"""SPIMI segment build: posting runs → compressed per-(bucket, docID-range)
Parquet files with per-partition checkpoints and throughput metrics.

Spark does the partitioning/shuffle; numpy does the index-structure work
inside ``applyInPandas`` groups. Partitioning scheme (the scale story):

* ``range_id = doc_id // doc_range_size`` — explicit docID range
  partitioning. Every (term, range) posting run is ≤ doc_range_size
  postings, so head-term skew ("the" in 30%+ of docs) is CAPPED BY
  CONSTRUCTION: a 10^12-doc posting list becomes ~10^6 independent,
  bounded runs. This is the salting of the segment shuffle — the salt is
  the docID range, which (unlike a random salt) keeps every run sorted
  and directly concatenable at query time.
* ``bucket = xxhash64(term) % num_term_buckets`` — file layout key.
  Segment files live under ``bucket=<b>/`` so a query's term set prunes
  to the matching bucket directories (Spark partition-column pruning),
  and the ``term`` predicate prunes row groups within files (rows are
  written term-sorted).

Resumability (mee T1, `services/listenservice.py:160-182` reframed):
each (bucket, range) group writes its Parquet file, then a `.done`
checkpoint marker with its metrics. A rerun anti-joins the completed
(bucket, range) set *before the shuffle*, so recovered work skips both
the write and the shuffle of already-durable groups.
"""

from __future__ import annotations

import json
import os
import time
import uuid

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from mee_spark import manifest as mf
from mee_spark.codec import varbyte_encode_lens
from mee_spark.config import IndexConfig

SEGMENT_SCHEMA = pa.schema(
    [
        ("term", pa.string()),
        ("range_id", pa.int64()),
        ("df_local", pa.int64()),
        ("n_postings", pa.int64()),
        ("doc_ids_blob", pa.binary()),
        ("tfs_blob", pa.binary()),
        ("dls_blob", pa.binary()),
        ("block_last_doc", pa.list_(pa.int64())),
        ("block_max_tf", pa.list_(pa.int64())),
        ("block_min_dl", pa.list_(pa.int64())),
    ]
)

METRICS_SCHEMA = StructType(
    [
        StructField("bucket", LongType()),
        StructField("range_id", LongType()),
        StructField("n_terms", LongType()),
        StructField("n_postings", LongType()),
        StructField("wall_sec", DoubleType()),
        StructField("bytes_written", LongType()),
    ]
)

SEGMENT_READ_SCHEMA = StructType(
    [
        StructField("term", StringType()),
        StructField("range_id", LongType()),
        StructField("df_local", LongType()),
        StructField("n_postings", LongType()),
        StructField("doc_ids_blob", BinaryType()),
        StructField("tfs_blob", BinaryType()),
        StructField("dls_blob", BinaryType()),
        StructField("block_last_doc", ArrayType(LongType())),
        StructField("block_max_tf", ArrayType(LongType())),
        StructField("block_min_dl", ArrayType(LongType())),
    ]
)


def with_partition_keys(postings: DataFrame, cfg: IndexConfig) -> DataFrame:
    """Attach (bucket, range_id) — the shuffle/layout keys."""
    return postings.withColumn(
        "range_id", (F.col("doc_id") / F.lit(cfg.doc_range_size)).cast("long")
    ).withColumn(
        "bucket", F.pmod(F.xxhash64(F.col("term")), F.lit(cfg.num_term_buckets)).cast("long")
    )


def sorted_term_codes(terms: pd.Series) -> tuple[np.ndarray, np.ndarray]:
    """-> (per-row code, sorted distinct terms): ``terms[i] ==
    uniq[codes[i]]`` and code order is term order.

    Factorize (hash-based, no sort of the full column), then sort only
    the distinct terms and remap the codes — far cheaper than sorting
    every row's string."""
    codes_u, uniq_u = pd.factorize(terms, sort=False)
    uniq_u = np.asarray(uniq_u, dtype=object)
    order_u = np.argsort(uniq_u)
    rank = np.empty(len(order_u), dtype=np.int64)
    rank[order_u] = np.arange(len(order_u))
    return rank[codes_u], uniq_u[order_u]


def write_segment(seg_root: str, ckpt_root: str, block_size: int,
                  bucket: int, range_id: int, terms: np.ndarray,
                  codes: np.ndarray, doc: np.ndarray, tf: np.ndarray,
                  dl: np.ndarray, t0: float) -> pd.DataFrame:
    """Encode one (bucket, range) group's postings and write its file.

    The core every build shares — full, incremental and compaction.
    Postings arrive sorted by (code, doc); ``terms`` is sorted and every
    term in it has at least one posting (``codes`` indexes it densely).
    The file lands by atomic rename, then a ``.done`` checkpoint records
    the group's metrics; returns them as a one-row frame."""
    # term run boundaries (vectorized)
    n = len(doc)
    change = np.flatnonzero(codes[1:] != codes[:-1]) + 1
    starts = np.concatenate(([0], change)).astype(np.int64)
    ends = np.concatenate((change, [n])).astype(np.int64)
    lens = ends - starts
    # whole-group encode: ONE varbyte pass per column, sliced back
    # into per-run blobs by byte offset (zero-copy Arrow binary from
    # the shared stream — guide §4.2). Byte-identical per run to
    # encode_postings: same delta + varbyte scheme.
    deltas = np.empty(n, dtype=np.int64)
    deltas[1:] = doc[1:] - doc[:-1]
    deltas[starts] = doc[starts]  # absolute docID at each run start
    doc_stream, doc_nb = varbyte_encode_lens(deltas.astype(np.uint64))
    tf_stream, tf_nb = varbyte_encode_lens(tf.astype(np.uint64))
    dl_stream, dl_nb = varbyte_encode_lens(dl.astype(np.uint64))
    bnd = np.concatenate((starts, [n]))

    def _bin(stream: np.ndarray, nb: np.ndarray) -> pa.Array:
        off = np.zeros(n + 1, dtype=np.int64)
        np.cumsum(nb, out=off[1:])
        off32 = np.ascontiguousarray(off[bnd], dtype=np.int32)
        return pa.Array.from_buffers(
            pa.binary(), len(bnd) - 1,
            [None, pa.py_buffer(off32), pa.py_buffer(stream)])

    # per-run block metadata, all runs in one reduceat pass: block
    # starts tile each run contiguously, so reduceat segments are
    # exactly the blocks
    nblocks = (lens + block_size - 1) // block_size
    blk_cum = np.zeros(len(lens) + 1, dtype=np.int64)
    np.cumsum(nblocks, out=blk_cum[1:])
    intra = np.arange(int(blk_cum[-1]), dtype=np.int64) - np.repeat(
        blk_cum[:-1], nblocks)
    blk_starts = np.repeat(starts, nblocks) + intra * block_size
    blk_last_idx = np.minimum(blk_starts + block_size - 1,
                              np.repeat(ends, nblocks) - 1)
    blk_off32 = np.ascontiguousarray(blk_cum, dtype=np.int32)

    def _lst(vals: np.ndarray) -> pa.Array:
        return pa.ListArray.from_arrays(blk_off32, pa.array(
            vals, type=pa.int64()))

    table = pa.Table.from_arrays(
        [
            pa.array(terms, type=pa.string()),
            pa.array(np.full(len(lens), range_id, dtype=np.int64)),
            pa.array(lens),            # df_local == postings per run
            pa.array(lens),            # n_postings
            _bin(doc_stream, doc_nb),
            _bin(tf_stream, tf_nb),
            _bin(dl_stream, dl_nb),
            _lst(doc[blk_last_idx]),
            _lst(np.maximum.reduceat(tf, blk_starts)),
            _lst(np.minimum.reduceat(dl, blk_starts)),
        ],
        schema=SEGMENT_SCHEMA,
    )
    bucket_dir = os.path.join(seg_root, f"bucket={bucket}")
    os.makedirs(bucket_dir, exist_ok=True)
    final = os.path.join(bucket_dir, f"range_{range_id}.parquet")
    tmp = final + f".{uuid.uuid4().hex}.tmp"
    pq.write_table(table, tmp, compression="zstd")  # rows already term-sorted
    os.replace(tmp, final)  # idempotent under task retry / speculation
    wall = time.monotonic() - t0
    metrics = dict(bucket=bucket, range_id=range_id, n_terms=len(terms),
                   n_postings=n, wall_sec=wall,
                   bytes_written=int(os.path.getsize(final)))
    os.makedirs(ckpt_root, exist_ok=True)
    ck_tmp = os.path.join(ckpt_root, f".{uuid.uuid4().hex}.tmp")
    with open(ck_tmp, "w") as f:
        json.dump(metrics, f)
    os.replace(ck_tmp, os.path.join(ckpt_root, mf.checkpoint_name(bucket, range_id)))
    return pd.DataFrame([metrics])[METRICS_SCHEMA.fieldNames()]


def _make_writer(seg_root: str, ckpt_root: str, block_size: int):
    """Group fn for applyInPandas: one (bucket, range) group → one file.

    Accepts EITHER pre-aggregated postings (term, doc_id, tf, dl) or raw
    token instances (term, doc_id, dl — one row per token occurrence;
    round 7): for raw input tf is the run length of equal (term, doc_id)
    after the sort, computed vectorized. Letting the writer aggregate
    removes a whole posting-sized exchange from the build (explode →
    groupBy(term,doc_id).count → SECOND shuffle by (bucket,range)
    becomes explode → ONE shuffle by (bucket,range)); the group stays
    bounded because a (bucket, range) group holds at most
    doc_range_size · avgdl / num_term_buckets token instances."""

    def write_group(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        bucket, range_id = int(key[0]), int(key[1])
        t0 = time.monotonic()
        doc = pdf["doc_id"].to_numpy(np.int64)
        dl = pdf["dl"].to_numpy(np.int64)
        codes, uniq_terms = sorted_term_codes(pdf["term"])
        order = np.lexsort((doc, codes))
        codes, doc, dl = codes[order], doc[order], dl[order]
        if "tf" in pdf.columns:
            tf = pdf["tf"].to_numpy(np.int64)[order]
        else:
            # raw token instances: tf = run length of equal (term, doc)
            newrun = np.empty(len(doc), dtype=bool)
            newrun[0] = True
            newrun[1:] = (codes[1:] != codes[:-1]) | (doc[1:] != doc[:-1])
            rstarts = np.flatnonzero(newrun)
            tf = np.diff(np.concatenate((rstarts, [len(doc)])))
            codes, doc, dl = codes[rstarts], doc[rstarts], dl[rstarts]
        return write_segment(seg_root, ckpt_root, block_size, bucket, range_id,
                             uniq_terms, codes, doc, tf, dl, t0)

    return write_group


def write_groups(keyed: DataFrame, index_dir: str, gen: int, resume: bool,
                 run) -> list[dict]:
    """The checkpointed group skeleton shared by every segment build.

    ``keyed`` carries (bucket, range_id); ``run(keyed, seg_root,
    ckpt_root)`` turns it into the METRICS_SCHEMA frame of the groups it
    writes. Resume: already-checkpointed (bucket, range) groups are
    filtered out pre-shuffle, and their recorded metrics are appended, so
    the result is the full per-group picture either way."""
    seg_root = mf.segments_dir(index_dir, gen)
    ckpt_root = mf.checkpoints_dir(index_dir, gen)
    # a deletion-only delta has zero postings; the dir must still exist
    os.makedirs(seg_root, exist_ok=True)
    done = mf.completed_checkpoints(index_dir, gen) if resume else set()
    if done:
        done_df = F.broadcast(keyed.sparkSession.createDataFrame(
            sorted(done), "bucket long, range_id long"))
        keyed = keyed.join(done_df, ["bucket", "range_id"], "left_anti")
    fresh = [r.asDict() for r in run(keyed, seg_root, ckpt_root).collect()]
    for b, r in sorted(done):
        with open(os.path.join(ckpt_root, mf.checkpoint_name(b, r))) as f:
            fresh.append(json.load(f))
    return fresh


def build_segments(
    postings: DataFrame, cfg: IndexConfig, index_dir: str, gen: int,
    resume: bool = True,
) -> list[dict]:
    """Write compressed segments for gen; returns per-partition metrics.

    ``postings`` carries (term, doc_id, tf, dl) or raw token instances
    (term, doc_id, dl); see ``_make_writer``.
    """
    def run(keyed: DataFrame, seg_root: str, ckpt_root: str) -> DataFrame:
        writer = _make_writer(seg_root, ckpt_root, cfg.block_size)
        return keyed.groupBy("bucket", "range_id").applyInPandas(
            writer, METRICS_SCHEMA)

    return write_groups(with_partition_keys(postings, cfg), index_dir, gen,
                        resume, run)


def read_segments(spark, index_dir: str, gens: list[int]) -> DataFrame:
    """Union of segment rows across generations with a ``gen`` column.

    Reads with explicit schema + bucket partition discovery; the caller
    filters (bucket, term) so Parquet gets partition + row-group pruning.
    """
    import glob

    full_schema = SEGMENT_READ_SCHEMA.add(StructField("bucket", LongType()))
    dfs = []
    for g in gens:
        root = mf.segments_dir(index_dir, g)
        # deletion-only generations have no segment files at all
        if not glob.glob(os.path.join(root, "bucket=*", "*.parquet")):
            continue
        df = (
            spark.read.option("basePath", root)
            .schema(full_schema)
            .parquet(root)
            .withColumn("gen", F.lit(g).cast("long"))
        )
        dfs.append(df)
    if not dfs:
        return spark.createDataFrame([], full_schema.add(StructField("gen", LongType())))
    out = dfs[0]
    for df in dfs[1:]:
        out = out.unionByName(df)
    return out
