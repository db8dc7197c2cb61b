"""Structured Streaming ingestion — mee's listen/sync loop, Spark-native.

The reference tails a MySQL binlog into Kafka and applies events one at
a time (`services/listenservice.py:91-158`, `services/syncservice.py:
53-114`). Here the stream is a Structured Streaming source of page rows
(file source locally; Kafka/Iceberg CDC on a cluster — same plan), and
each micro-batch runs the SAME incremental builder as the batch path via
``foreachBatch`` — one code path for batch and streaming (T2: idempotent
at-least-once application; a replayed batch re-diffs against the live
docmap and produces an empty delta).

Also provided: a watermarked event-time aggregation (``windowed_counts``,
rows per key per window) — the streaming-stats operator the reference
lacks entirely.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from mee_spark import manifest as mf
from mee_spark.build import build_full_index, build_incremental
from mee_spark.config import IndexConfig
from mee_spark.fixtures import PAGES_SCHEMA


def read_page_stream(spark: SparkSession, source_dir: str,
                     max_files_per_trigger: int | None = None) -> DataFrame:
    """File-source stream of page rows (drop parquet files into
    ``source_dir``). One backend of ``page_stream_source``."""
    reader = spark.readStream.schema(PAGES_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(source_dir)


def page_stream_source(
    spark: SparkSession,
    kind: str = "files",
    *,
    source_dir: str | None = None,
    max_files_per_trigger: int | None = None,
    rows_per_second: int = 200,
    kafka_bootstrap: str | None = None,
    kafka_topic: str | None = None,
) -> DataFrame:
    """The event-bus switch point (mee S3, `services/listenservice.py:
    192-220`): three backends, ONE page-row schema, so every downstream
    operator (stateful dedup, windowed stats, incremental indexing) is
    source-agnostic — the swap is demonstrated by tests running the same
    pipeline over two backends, not asserted in a comment.

    * ``files`` — parquet drop-dir (exactly-once file tracking; local/dev).
    * ``rate``  — Spark's built-in rate source as an embedded broker
      stand-in (infinite, ordered, replayable offsets); each offset is
      deterministically synthesized into a page row via the fixture
      generator, so outputs are byte-reproducible.
    * ``kafka`` — the real broker: value = JSON page payload (html
      base64-encoded). Requires the spark-sql-kafka connector jar; absence
      raises at plan time, which tests turn into a skip.
    """
    if kind == "files":
        if not source_dir:
            raise ValueError("files source needs source_dir")
        return read_page_stream(spark, source_dir, max_files_per_trigger)
    if kind == "rate":
        import pandas as pd

        from mee_spark.fixtures import gen_pages_for_indices

        raw = (spark.readStream.format("rate")
               .option("rowsPerSecond", rows_per_second).load())

        def synth(batches):
            for pdf in batches:
                if len(pdf):
                    yield gen_pages_for_indices(pdf["value"].to_numpy())
                else:
                    yield pd.DataFrame(
                        {f.name: pd.Series(dtype="object") for f in PAGES_SCHEMA})

        return raw.select("value").mapInPandas(synth, PAGES_SCHEMA)
    if kind == "kafka":
        if not (kafka_bootstrap and kafka_topic):
            raise ValueError("kafka source needs kafka_bootstrap and kafka_topic")
        raw = (
            spark.readStream.format("kafka")
            .option("kafka.bootstrap.servers", kafka_bootstrap)
            .option("subscribe", kafka_topic)
            .option("startingOffsets", "earliest")
            .load()
        )
        payload = ("url string, warc_ts timestamp, html_b64 string, "
                   "text string, lang string")
        return (
            raw.select(F.from_json(F.col("value").cast("string"), payload).alias("p"))
            .select(F.col("p.url").alias("url"), F.col("p.warc_ts").alias("warc_ts"),
                    F.unbase64(F.col("p.html_b64")).alias("html"),
                    F.col("p.text").alias("text"), F.col("p.lang").alias("lang"))
        )
    raise ValueError(f"unknown page stream source kind: {kind!r}")


def incremental_index_stream(
    spark: SparkSession, source_dir: str, index_dir: str, cfg: IndexConfig,
    checkpoint_dir: str, available_now: bool = True,
    source: DataFrame | None = None,
) -> StreamingQuery:
    """Stream pages → incremental index generations.

    Each micro-batch becomes one generation via the batch incremental
    builder; Structured Streaming's checkpoint gives exactly-once batch
    tracking (mee's Kafka offset cache, `basecosumerservice.py:36-53`),
    and the builder's own snapshot-diff makes replays idempotent.

    ``source``: any streaming DataFrame of page rows (e.g. from
    ``page_stream_source``) — defaults to the file backend over
    ``source_dir``. The indexing plan is identical for every backend."""

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # the first batch starts the index; a concurrent writer would
        # pick the same next generation
        os.makedirs(index_dir, exist_ok=True)
        with mf.writer_lock(index_dir):
            cur = mf.current_gen(index_dir)
            if cur is not None:
                # partial=True: a micro-batch is an upsert set, not a snapshot
                build_incremental(spark, batch_df, cfg, index_dir, gen=cur + 1,
                                  partial=True,
                                  lineage={"stream_batch": batch_id})
            else:
                build_full_index(spark, batch_df, cfg, index_dir, gen=1,
                                 lineage={"stream_batch": batch_id})

    stream = source if source is not None else read_page_stream(spark, source_dir)
    writer = (
        stream
        .writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stateful_url_dedup(pages_stream: DataFrame, mode: str = "exact",
                       bloom_bits_per_shard: int = 1 << 20,
                       bloom_hashes: int = 7) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: emit each url
    at most once across ALL micro-batches (a streaming exact-dedup front
    for the indexer — the at-least-once event stream becomes
    effectively-once, mee's T2 concern `basecosumerservice.py:36-53`).

    ``mode="exact"``: state per url-hash-prefix group = the set of seen
    FULL urls (a 64-bit hash alone would silently drop a distinct doc on
    collision, and collisions are likely well below 10^12 docs). Keys are
    a 12-bit hash prefix so state shards evenly across executors; state
    is O(all urls) by design — the right default up to the point where
    per-shard state outgrows the state store.

    ``mode="bloom"``: the explicit 10^12-url space/exactness trade —
    state per shard is a FIXED ``bloom_bits_per_shard``-bit Bloom filter
    (``bloom_hashes`` probes by double hashing). A false positive DROPS a
    distinct url: with m bits, k hashes and n urls in a shard the drop
    probability is ~(1 - e^(-kn/m))^k — at the defaults (2^20 bits, k=7)
    a shard absorbs ~10^5 urls at <1% FP, so 4096 shards cover ~4·10^8
    urls in 512 MB of total state; size m per your corpus. Exactness is
    traded EXPLICITLY by the caller, never silently.
    """
    import hashlib

    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    if mode not in ("exact", "bloom"):
        raise ValueError(f"unknown dedup mode {mode!r}: exact|bloom")

    keyed = pages_stream.withColumn(
        "shard", F.pmod(F.xxhash64("url"), F.lit(4096)).cast("int"))

    out_schema = ("shard int, url string, warc_ts timestamp, html binary, "
                  "text string, lang string")

    def dedup_exact(key, pdfs, state):
        seen = set(state.get[0]) if state.exists else set()
        outs = []
        for pdf in pdfs:
            # single pass: dedup against state AND within the batch
            fresh_mask = []
            for u in pdf["url"]:
                if u in seen:
                    fresh_mask.append(False)
                else:
                    seen.add(u)
                    fresh_mask.append(True)
            new = pdf[pd.Series(fresh_mask, index=pdf.index).to_numpy()]
            if len(new):
                outs.append(new)
        state.update((list(seen),))
        if outs:
            yield pd.concat(outs)

    m_bits = int(bloom_bits_per_shard)
    k_hashes = int(bloom_hashes)

    def _bloom_positions(url: str) -> list[int]:
        # double hashing over one 128-bit digest: h_i = h1 + i*h2 (mod m)
        d = hashlib.blake2b(url.encode("utf-8"), digest_size=16).digest()
        h1 = int.from_bytes(d[:8], "little")
        h2 = int.from_bytes(d[8:], "little") | 1  # odd -> full-period probe
        return [(h1 + i * h2) % m_bits for i in range(k_hashes)]

    def dedup_bloom(key, pdfs, state):
        if state.exists:
            bits = np.frombuffer(state.get[0], dtype=np.uint8).copy()
        else:
            bits = np.zeros(m_bits // 8 + 1, dtype=np.uint8)
        outs = []
        for pdf in pdfs:
            fresh_mask = []
            for u in pdf["url"]:
                pos = _bloom_positions(u)
                bytes_ = [p >> 3 for p in pos]
                masks = [1 << (p & 7) for p in pos]
                if all(bits[by] & mk for by, mk in zip(bytes_, masks)):
                    fresh_mask.append(False)  # (probably) seen; FP drops
                else:
                    for by, mk in zip(bytes_, masks):
                        bits[by] |= mk
                    fresh_mask.append(True)
            new = pdf[pd.Series(fresh_mask, index=pdf.index).to_numpy()]
            if len(new):
                outs.append(new)
        state.update((bytearray(bits.tobytes()),))
        if outs:
            yield pd.concat(outs)

    if mode == "bloom":
        return keyed.groupBy("shard").applyInPandasWithState(
            dedup_bloom, out_schema, "bits binary", "append",
            GroupStateTimeout.NoTimeout)
    return keyed.groupBy("shard").applyInPandasWithState(
        dedup_exact, out_schema, "seen array<string>", "append",
        GroupStateTimeout.NoTimeout)


def windowed_counts(stream: DataFrame, ts_col: str, key_col: str,
                    window: str = "1 minute",
                    watermark: str = "2 minutes",
                    count_alias: str = "n") -> DataFrame:
    """Watermarked tumbling-window counts by ``key_col`` — late rows
    beyond the watermark are dropped, state is bounded (the event-time
    operator family mee has no analog for)."""
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window).alias("w"), key_col)
        .agg(F.count("*").alias(count_alias))
        .select(F.col("w.start").alias("window_start"), key_col, count_alias)
    )
