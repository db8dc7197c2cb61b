"""Segment-backed BM25 top-k query engine with block-max WAND pruning.

The read path mee never had (reads were Elasticsearch's job; mee only
wrote, `modules/handlers/v1/commonhandler.py:68-83`). Execution shape,
designed for 10^12 docs / 1000 executors:

1. **Vocabulary on the driver** — one bounded collect returns each
   query's tokens and their term buckets, computed by the build's own
   JVM expressions (``tokenize_col``, ``pmod(xxhash64)``), so they match
   the index by construction. On a local query relation (the interactive
   case) Spark folds this into the relation and runs no job. The driver
   deduplicates (query_id, k, term), derives the bucket list and the
   per-query term counts, and ships the query terms back as a local
   relation. The segment scan filters ``bucket IN (...)`` (directory
   pruning via the partition column) AND ``term IN (...)`` (Parquet
   row-group pruning — rows are term-sorted within files). Only the
   postings of the queried terms are ever read.
2. **Corpus stats** — N/avgdl come from the manifest chain (computed
   once per build). Per-term global df is read on the driver with
   pyarrow (``segments.term_df``) on every chain below the gate (below):
   on a tombstone-free chain (a full or compacted generation) df is the
   sum of the matched rows' ``df_local``; on a tombstone chain the rows
   of tombstoned docID ranges are decoded (doc ids only) and count their
   live postings. No Spark job either way, and a query with no live
   indexed term is answered without one. Above the gate df needs a
   doc-id decode in Spark (``live_df``). It reaches the scorers as a
   dict in their closure.
3. **Scoring** — matched segment rows join the query set, and the
   scorer (``_make_scorer``) runs once per docID range over a shard of
   the batch, decoding and scoring each (term, gen) row once for every
   query of the shard, then selecting each query's top-k from the shared
   rows (the vectorized kernel, or block-max WAND over a large (query,
   range)). Where it runs is one gate
   (``DRIVER_MAX_SCORE_POSTINGS``), checked on the summed ``df_local`` of
   the term-filtered rows that step 2 read, before any blob is read:
   below it the driver reads those rows with pyarrow and scores every
   range itself, over the whole batch (``driver_scored``), with no
   Spark job — a Spark call's fixed job, stage and Python-worker cost
   is most of a small batch's CPU. Above it (or when df needed ``live_df``) the rows join the
   broadcast query set, then ``groupBy(range_id, _qshard)
   .applyInPandas``, one group per range and shard of the batch
   (``_qshard = query_id mod 8``). A head term's 10^12-posting list is
   never gathered anywhere — each range holds ≤ doc_range_size of it,
   scored independently with a local top-k heap.
4. **Global top-k** — the union of per-range top-k candidates (≤ k·ranges
   rows, tiny) is ranked by (score desc, doc_id asc): in Spark by
   ``bm25.ranked``'s window, the exhaustive plan's own rank step; on the
   driver by its numpy twin ``bm25.ranked_np``, whose rows come back as a
   local relation (collecting it runs no job).

Generations: rows from every gen in the manifest chain are unioned;
tombstones (docs deleted/re-indexed in later gens) are masked out at
decode time — last-writer-wins, mee's incremental-sync semantics
(`services/syncservice.py:64-93`). Tombstones are grouped per docID
range and JOINED onto the segment rows, so each scorer task only ever
sees its own range's slice (≤ doc_range_size ids by construction). A
chain whose manifests record no tombstone plans like a single
generation. Otherwise a gate on driver memory decides where they come
from (``_driver_plan``, no Spark job): the manifests' tombstone count,
then the postings of the term-filtered rows the driver would decode.
Below it the driver reads them with pyarrow and attaches the per-range
arrays to the segment rows (``tombstone_table``): in the driver scoring
plan directly, in Spark as a broadcast local relation
(``tombstone_relation``), so a small chain's query runs the same scoring
as a single generation's. Above it they stay a DataFrame end to end
(``tombstones_per_range``, a group-by the join consumes, and the
``live_df`` pass): a high-churn 10^12-doc index accumulates tombstones
far past driver memory between compactions, and its head terms' dead
postings are too many to decode in one process.
"""

from __future__ import annotations

import copy
from collections import Counter

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from mee_spark import manifest as mf
from mee_spark.bm25 import idf_np, ranked, ranked_np
from mee_spark.build import read_tombstone_arrays, read_tombstones
from mee_spark.config import IndexConfig
from mee_spark.segments import (
    decode_live,
    read_rows,
    read_segments,
    term_buckets,
    term_df,
)
from mee_spark.textprep import tokenize_col
from mee_spark.wand import TermCursor, exhaustive_topk_vec, wand_topk

_LOCAL_SCHEMA = "query_id int, k int, doc_id long, score double"
# the scorer builds its _LOCAL_SCHEMA rows as these numpy records
_LOCAL_RECORD = np.dtype([("query_id", np.int32), ("k", np.int32),
                          ("doc_id", np.int64), ("score", np.float64)])
_RESULT_SCHEMA = "query_id int, rank long, doc_id long, score double"
# the segment columns the scorer reads
_SCORE_COLUMNS = ["term", "range_id", "doc_ids_blob", "tfs_blob", "dls_blob",
                  "block_last_doc", "block_max_tf", "block_min_dl"]

# The gate of the driver tombstone plan (see ``_driver_plan``); above
# either limit the chain takes the distributed plan. The gate bounds driver
# memory only: on chains of 20k-300k docs with 6k-1.27M tombstones and up
# to 4M postings to decode (4 vCPU, local[4]) the driver plan took less
# CPU and less wall than the distributed one on every query measured,
# above both limits too.
# Each tombstone raised the driver's peak by about 85 bytes (read, sorted
# copy, the relation) and the relation's broadcast by about 26 bytes
# (32 MiB at 1.27M), a broadcast every executor keeps whole: 2^20 keep
# them near 90 MB and 32 MiB.
DRIVER_MAX_TOMBSTONES = 1 << 20
# Each posting decoded on the driver raised its peak by 35-50 bytes (doc-id
# blobs, decoded ids, the live mask) and took about 1.4 CPU-us: 2^22 keep
# the decode near 0.2 GB and 6 CPU-s, on top of the tombstone-free df read.
DRIVER_MAX_DECODE_POSTINGS = 1 << 22
# The gate of the driver scoring plan (see ``driver_scored``): a batch whose
# term-filtered rows hold at most this many postings (dead ones included,
# summed over every gen) is scored on the driver. Each path forced in turn
# on single-generation indexes of 3k-300k docs (2048-doc ranges, 16
# buckets; local[4], 4 vCPU), with queries of 1-12 terms and 100-query
# batches (7 to 7.6M postings): the driver took 54-86% less CPU and 15-85%
# less wall on every point, the largest too (7.6M postings: 14.1 vs 39.2
# CPU-s, 9.8 vs 11.5 s wall), so the gate bounds driver memory and the
# driver's one core. Scoring raised the driver's peak by 11-40 bytes per
# posting (blobs, the joined frame, one range's decode at a time) and took
# 1.0-2.4 CPU-us each: 2^22, the driver decode budget above, keep a batch
# near 0.17 GB and 4-10 CPU-s on the driver.
DRIVER_MAX_SCORE_POSTINGS = 1 << 22


def query_vocab(queries: DataFrame, num_term_buckets: int) -> list:
    """Driver rows of (query_id, k, terms, buckets): each query's tokens
    and their term buckets; a query with a null text has no row.

    Tokens and buckets come from the build's own JVM expressions
    (``tokenize_col``, ``segments.term_buckets``), so they match the index
    by construction. On a local query relation (a frame created from
    pandas with Arrow on) Spark folds the projection into the relation and
    answers the collect with no job."""
    rows = queries.select(
        "query_id", "k", tokenize_col(F.col("query_text")).alias("terms")
    ).select("query_id", "k", "terms", term_buckets(
        "terms", num_term_buckets).alias("buckets")).collect()
    return [r for r in rows if r["terms"] is not None]


def _empty_result(queries: DataFrame) -> DataFrame:
    """The result schema with no rows. ``limit(0)`` folds to an empty
    local relation, so collecting it submits no job (an empty
    ``createDataFrame`` runs one)."""
    return queries.limit(0).select(
        *(F.lit(None).cast(t).alias(c) for c, t in (
            ("query_id", "int"), ("rank", "long"), ("doc_id", "long"),
            ("score", "double"))))


def tombstones_per_range(spark: SparkSession, index_dir: str, gens: list[int],
                         range_size: int) -> DataFrame | None:
    """(range_id, tomb_ids array<long>, tomb_gens array<long>) — the chain's
    tombstones bucketed by docID range, sorted by doc_id for determinism.

    This is the distributed form of the tombstone mask: joined onto segment
    rows by range_id, each scorer/decoder task receives exactly its range's
    tombstones as ordinary column data. No driver collect, no task-closure
    capture, no broadcast ceiling."""
    tdf = read_tombstones(spark, index_dir, gens)
    if tdf is None:
        return None
    return (
        tdf.withColumn("range_id", (F.col("doc_id") / F.lit(range_size)).cast("long"))
        .groupBy("range_id")
        .agg(F.array_sort(F.collect_list(F.struct("doc_id", "tomb_gen"))).alias("_t"))
        .select(
            "range_id",
            F.transform("_t", lambda x: x["doc_id"]).alias("tomb_ids"),
            F.transform("_t", lambda x: x["tomb_gen"]).alias("tomb_gens"),
        )
    )


def tombstone_table(tomb_ids: np.ndarray, tomb_gens: np.ndarray,
                    range_size: int) -> pa.Table:
    """``tombstones_per_range``'s rows, sorted the same way, built on the
    driver from the chain's tombstone arrays as an Arrow table: one row
    per tombstoned docID range, no Python int per id."""
    order = np.lexsort((tomb_gens, tomb_ids))
    ids, gens = tomb_ids[order], tomb_gens[order]
    ranges, starts = np.unique(ids // range_size, return_index=True)
    offsets = pa.array(np.append(starts, len(ids)).astype(np.int32))
    return pa.table({
        "range_id": pa.array(ranges),
        "tomb_ids": pa.ListArray.from_arrays(offsets, pa.array(ids)),
        "tomb_gens": pa.ListArray.from_arrays(offsets, pa.array(gens)),
    })


def tombstone_relation(spark: SparkSession, tomb_ids: np.ndarray,
                       tomb_gens: np.ndarray, range_size: int) -> DataFrame:
    """``tombstone_table`` as a local relation, so building and
    broadcasting it runs no job. An Arrow table builds with the session's
    Arrow conversion on or off."""
    return spark.createDataFrame(
        tombstone_table(tomb_ids, tomb_gens, range_size),
        "range_id long, tomb_ids array<long>, tomb_gens array<long>")


def _driver_plan(n_tombs: int, index_dir: str, gens: list[int],
                 terms: list[str], buckets: list[int], range_size: int):
    """(tombstone arrays, live df, postings) of a tombstone chain small
    enough to plan on the driver, read with pyarrow (no Spark job; see
    ``segments.term_df``); None above the gate. ``n_tombs``, the
    manifests' count, is checked before anything is read; the decode
    budget is checked on the term-filtered rows, before their doc-id
    blobs are read."""
    if n_tombs > DRIVER_MAX_TOMBSTONES:
        return None
    tombstones = read_tombstone_arrays(index_dir, gens)
    df = term_df(index_dir, gens, terms, buckets, tombstones, range_size,
                 max_decode=DRIVER_MAX_DECODE_POSTINGS)
    return None if df is None else (tombstones, *df)


def joined_tombstones(rows: pd.DataFrame) -> tuple[np.ndarray, np.ndarray]:
    """Flat (ids, gens) of the tombstones that the per-range left join
    (``tombstones_per_range`` or ``tombstone_relation``) attached to a
    batch of segment rows — each range's arrays counted once (empty when
    the join was skipped or matched nothing)."""
    if "tomb_ids" not in rows.columns:
        return np.empty(0, np.int64), np.empty(0, np.int64)
    t = rows.loc[rows["tomb_ids"].notna(), ["range_id", "tomb_ids", "tomb_gens"]]
    t = t.drop_duplicates(subset=["range_id"])
    if t.empty:
        return np.empty(0, np.int64), np.empty(0, np.int64)
    return (np.concatenate(t["tomb_ids"].to_list()).astype(np.int64),
            np.concatenate(t["tomb_gens"].to_list()).astype(np.int64))


def live_df(segs: DataFrame) -> DataFrame:
    """(term, df) — each term's live document frequency over segment rows
    left-joined with ``tombstones_per_range`` (old gens still hold dead
    postings, so the df needs a doc-id decode).

    The decode reads only the columns it needs, and a ``range_id``
    repartition sits in front of it, so it runs one Python task per
    AQE-coalesced partition (sized by bytes) rather than one per segment
    file split. Each Python task carries a fixed worker set-up cost
    (about 0.15 CPU-s on a 4-vCPU host) whatever its body does; on a
    two-generation chain over a 2k-doc index the pass runs one task
    instead of six. The price is one more Spark job and one exchange of
    the query terms' doc-id blobs. A range's rows stay together, and a
    head term's rows spread over ranges."""

    def live_counts(batches):
        for pdf in batches:
            counts = decode_live(pdf, *joined_tombstones(pdf), values=False)[3]
            yield pd.DataFrame({"term": pdf["term"].to_numpy(), "live": counts})

    return (segs.select("range_id", "term", "gen", "doc_ids_blob",
                        "tomb_ids", "tomb_gens")
            .repartition("range_id")
            .mapInPandas(live_counts, "term string, live long")
            .groupBy("term").agg(F.sum("live").alias("df")))


def _make_scorer(df_map: dict, n_docs: int, avgdl: float, k1: float,
                 b: float, wand_min_postings: int, round_to: int | None,
                 n_terms_map: dict | None):
    """Scorer for one docID range, ALL queries at once.

    Grouping by range (not (query, range)) turns q·ranges tiny Arrow
    groups into `ranges` medium ones — far less per-group overhead — and
    lets each (term, gen) posting row be decoded once and scored once:
    it becomes one ``TermCursor`` (its postings' BM25 contributions and
    block bounds), shared by every query of the group that holds the term
    (head terms appear in many queries). The vectorized kernel only reads
    a cursor; block-max WAND moves its pointer, so it walks shallow
    copies.

    Each term's df (``df_map``) and, in conjunctive (AND) mode, each
    query's term count (``n_terms_map``; None otherwise) are driver dicts
    that travel in the scorer's closure."""

    def score_group(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        # every (term, gen) row decoded in ONE batch, split back per row;
        # a row with live postings becomes one cursor. Its term key embeds
        # the gen: a changed doc's postings live in exactly one (term, gen)
        # cursor; lexicographic sort keeps the scoring order deterministic
        rows = pdf.drop_duplicates(subset=["term", "gen"])
        docs, tfs, dls, counts = decode_live(rows, *joined_tombstones(rows))
        off = np.zeros(len(counts) + 1, dtype=np.int64)
        np.cumsum(counts, out=off[1:])
        cursors: dict[tuple, TermCursor] = {}
        for i, row in enumerate(rows.itertuples()):
            lo, hi = off[i], off[i + 1]
            if lo < hi:
                cursors[row.term, int(row.gen)] = TermCursor(
                    f"{row.term}\x00{int(row.gen)}", docs[lo:hi], tfs[lo:hi],
                    dls[lo:hi], idf_np(float(df_map[row.term]), n_docs), avgdl,
                    row.block_last_doc, row.block_max_tf, row.block_min_dl,
                    k1, b)
        # each query's k and cursors, from one pass over the joined rows
        queries: dict[int, tuple[int, list]] = {}
        for qid, k, term, gen in zip(pdf["query_id"], pdf["k"], pdf["term"],
                                     pdf["gen"]):
            shared = queries.setdefault(int(qid), (int(k), []))[1]
            if (c := cursors.get((term, int(gen)))) is not None:
                shared.append(c)
        out = []  # _LOCAL_RECORD rows
        for qid in sorted(queries):
            k, shared = queries[qid]
            # hybrid: vectorized exhaustive for range-bounded small lists,
            # block-max WAND at or above ``wand_min_postings`` (identical
            # results; see wand.exhaustive_topk_vec docstring). Local
            # selection uses the SAME rounded key as the global window
            # rank — a doc dropped by an unrounded local heap could
            # round-tie a kept doc and win the doc_id tie-break globally.
            # AND mode always takes the vectorized kernel, which keeps only
            # docs matched by all ``n_terms`` query terms.
            n_terms = None if n_terms_map is None else n_terms_map[qid]
            if n_terms is not None or sum(c.n for c in shared) < wand_min_postings:
                top = exhaustive_topk_vec(shared, k, round_to=round_to,
                                          n_terms=n_terms)
            else:
                top = wand_topk([copy.copy(c) for c in shared], k,
                                round_to=round_to)
            out += [(qid, k, doc, score) for doc, score in top]
        return pd.DataFrame(np.array(out, dtype=_LOCAL_RECORD))

    return score_group


def driver_scored(spark: SparkSession, index_dir: str, gens: list[int],
                  buckets: list[int], qrows: list[tuple], terms: list[str],
                  tombstones: tuple[np.ndarray, np.ndarray] | None,
                  range_size: int, score_group, round_digits: int | None
                  ) -> DataFrame:
    """Steps 3-4 on the driver, for a batch whose postings fit
    ``DRIVER_MAX_SCORE_POSTINGS``: the same rows, scorer and rank as the
    distributed plan, with no Spark job.

    The matched segment rows are read once with pyarrow and joined with
    the query terms ``qrows`` (query_id, k, term) and, left, each range's
    tombstones (``tombstone_table``, as the distributed plan joins
    them). ``score_group`` (``_make_scorer``) then scores each docID range
    once, for every query, and ``ranked_np`` ranks the union. The rows
    come back as a local relation built from an Arrow table: collecting
    it runs no job."""
    segs = read_rows(index_dir, gens, buckets, _SCORE_COLUMNS,
                     pc.field("term").isin(terms)).to_pandas()
    joined = segs.merge(pd.DataFrame(qrows, columns=["query_id", "k", "term"]),
                        on="term")
    if tombstones is not None:
        joined = joined.merge(
            tombstone_table(*tombstones, range_size).to_pandas(),
            on="range_id", how="left")
    local = pd.concat([score_group((rid,), pdf)
                       for rid, pdf in joined.groupby("range_id", sort=False)],
                      ignore_index=True)
    q, rank, doc, score = ranked_np(
        local["query_id"].to_numpy(), local["doc_id"].to_numpy(),
        local["score"].to_numpy(), local["k"].to_numpy(), round_digits)
    return spark.createDataFrame(pa.table({
        "query_id": q, "rank": rank, "doc_id": doc, "score": score}),
        _RESULT_SCHEMA)


def bm25_topk_wand(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    cfg: IndexConfig,
    round_digits: int | None = 6,
    conjunctive: bool = False,
) -> DataFrame:
    """-> (query_id, rank, doc_id, score): per-query top-k over the
    published index. ``queries`` needs (query_id, query_text, k).
    ``conjunctive``: AND semantics — only docs containing every query term
    rank (docID-range partitioning co-locates a doc's postings, so the
    intersection is evaluated per range with no extra movement).

    The driver plans the batch from its whole vocabulary (one collect of
    every query's tokens), so it holds O(batch) query terms. It scores
    the batch itself only when the postings fit
    ``DRIVER_MAX_SCORE_POSTINGS``; otherwise the index side stays
    distributed."""
    # tombstones mask doc_id // doc_range_size ranges and terms prune to
    # hash % num_term_buckets directories: both come from the chain
    chain, cfg = mf.open_chain(index_dir, cfg)
    gens = [m["generation"] for m in chain]
    n_docs = chain[-1]["n_docs_live"]
    avgdl = chain[-1]["avgdl"]

    # the vocabulary probe: one collect of each query's tokens and term
    # buckets (a local query relation answers it with no job); the driver
    # plans the rest from it: distinct (query_id, k, term), each term's
    # bucket, per-query term counts
    rows = query_vocab(queries, cfg.num_term_buckets)
    qrows = list(dict.fromkeys(
        (r["query_id"], r["k"], t) for r in rows for t in r["terms"]))
    bucket_of = {t: b for r in rows for t, b in zip(r["terms"], r["buckets"])}
    n_terms_map = Counter(int(q) for q, _, _ in qrows) if conjunctive else None
    terms = sorted(bucket_of)
    buckets = sorted(set(bucket_of.values()))
    n_tombs = mf.tombstone_count(chain)
    tombstones = df_map = None
    if n_tombs == 0:
        # every posting is live, so df is the sum of the rows'
        # df_local: a pyarrow read of the pruned files
        df_map, postings = term_df(index_dir, gens, terms, buckets)
    elif (small := _driver_plan(n_tombs, index_dir, gens, terms, buckets,
                                cfg.doc_range_size)) is not None:
        # small chain: tombstones and live df come from pyarrow reads
        tombstones, df_map, postings = small
    if df_map is not None:
        # a query with no live indexed term is answered without a job
        terms = sorted(t for t, n in df_map.items() if n > 0)
    if not terms:
        return _empty_result(queries)

    def scorer(df_map: dict):
        return _make_scorer(df_map, n_docs, avgdl, cfg.k1, cfg.b,
                            cfg.wand_min_postings, round_to=round_digits,
                            n_terms_map=n_terms_map)

    buckets = sorted({bucket_of[t] for t in terms})
    if df_map is not None and postings <= DRIVER_MAX_SCORE_POSTINGS:
        # a small batch: scoring it costs less than the jobs would
        return driver_scored(spark, index_dir, gens, buckets, qrows, terms,
                             tombstones, cfg.doc_range_size, scorer(df_map),
                             round_digits)
    segs = read_segments(spark, index_dir, gens).filter(
        F.col("bucket").isin(buckets) & F.col("term").isin(terms))
    # tombstones join per docID range, so the df pass and the scorers see
    # exactly their range's tombstones: from the driver's arrays as a
    # broadcast local relation below the gate, a group-by above it
    if tombstones is not None:
        segs = segs.join(F.broadcast(tombstone_relation(
            spark, *tombstones, cfg.doc_range_size)), "range_id", "left")
    elif n_tombs and (tombs := tombstones_per_range(
            spark, index_dir, gens, cfg.doc_range_size)) is not None:
        segs = segs.join(tombs, "range_id", "left")
    if df_map is None:
        df_map = {r["term"]: int(r["df"]) for r in live_df(segs).collect()}
        if not df_map:
            return _empty_result(queries)
    # the query terms ship as a local relation: no job to build or
    # deduplicate them. Terms without segment rows can't match the
    # join, so they are left out (conjunctive counts still see them)
    qt = spark.createDataFrame(
        pd.DataFrame([q for q in qrows if q[2] in df_map],
                     columns=["query_id", "k", "term"]),
        StructType([queries.schema["query_id"], queries.schema["k"],
                    StructField("term", StringType())]))

    # parallelism = ranges x query-shards: sharding the query batch keeps
    # big batches parallel even over few ranges, while queries within a
    # shard still share each (term, gen) decode. Fixed 8: a batch with
    # fewer queries just leaves shards empty (no rows -> no groups), so
    # no count() action is spent sizing it (every extra action is
    # serial driver time on the query-latency floor)
    n_qshards = 8
    joined = (
        segs.join(F.broadcast(qt), "term")
        .withColumn("_qshard", F.pmod(F.col("query_id"), F.lit(n_qshards)))
    )
    local = joined.groupBy("range_id", "_qshard").applyInPandas(
        scorer(df_map), _LOCAL_SCHEMA)

    # scores leave the scorer already rounded (the kernels select by the
    # rounded key); ranked's rounding is an identity re-statement there
    return ranked(local, round_digits, F.col("k"))
