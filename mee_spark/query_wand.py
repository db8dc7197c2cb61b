"""Segment-backed BM25 top-k query engine with block-max WAND pruning.

The read path mee never had (reads were Elasticsearch's job; mee only
wrote, `modules/handlers/v1/commonhandler.py:68-83`). Execution shape,
designed for 10^12 docs / 1000 executors:

1. **Partition pruning** — the query-term set (tiny) is hashed to its
   term buckets with the same ``xxhash64`` Spark expression used at
   write time; the segment scan filters ``bucket IN (...)`` (directory
   pruning via the partition column) AND ``term IN (...)`` (Parquet
   row-group pruning — rows are term-sorted within files). Only the
   postings of the queried terms are ever read.
2. **Corpus stats broadcast** — N/avgdl come from the manifest chain
   (computed once per build); per-term global df is a tiny aggregate
   over the matched rows only, broadcast into the scorers.
3. **Distributed scoring** — matched segment rows join the broadcast
   query set, then ``groupBy(query_id, range_id).applyInPandas``: each
   task runs block-max WAND over ONE docID range of one query. A head
   term's 10^12-posting list is never gathered anywhere — each range
   holds ≤ doc_range_size of it, scored independently with a local
   top-k heap.
4. **Global top-k** — union of per-range top-k candidates (≤ k·ranges
   rows, tiny) through a window rank. Ties break (score desc, doc_id
   asc) for determinism.

Generations: rows from every gen in the manifest chain are unioned;
tombstones (docs deleted/re-indexed in later gens) are masked out at
decode time — last-writer-wins, mee's incremental-sync semantics
(`services/syncservice.py:64-93`). Tombstones stay a DataFrame end to
end: they are grouped per docID range and JOINED onto the segment rows
(AQE broadcasts when small, shuffles when not), never collected to the
driver — a high-churn 10^12-doc index accumulates tombstones far past
driver memory between compactions, and each scorer task only ever sees
its own range's slice (≤ doc_range_size ids by construction).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mee_spark import manifest as mf
from mee_spark.bm25 import idf_np
from mee_spark.build import read_tombstones
from mee_spark.codec import decode_postings_batch
from mee_spark.config import IndexConfig
from mee_spark.query import explode_query_terms
from mee_spark.segments import read_segments
from mee_spark.wand import (
    TermCursor,
    conjunctive_topk_vec,
    exhaustive_topk_vec,
    wand_topk,
)

_LOCAL_SCHEMA = "query_id int, k int, doc_id long, score double"

# query batches past this size keep their vocabulary IN THE PLAN (df and
# per-query term counts joined in as columns) instead of driver dicts:
# the dict path collects one entry per distinct term, which is fine for
# interactive batches but unbounded for 10^5-query offline batches
VOCAB_IN_PLAN_THRESHOLD = 2048


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


def live_mask(docs: np.ndarray, post_gens: np.ndarray,
              tomb_ids: np.ndarray, tomb_gens: np.ndarray) -> np.ndarray:
    """True for each posting that no tombstone at a gen LATER than the
    posting's own kills (a changed doc is tombstoned and re-added in the
    same gen, so its fresh postings stay live). Duplicate tombstones for
    one doc are fine: the newest decides."""
    if len(tomb_ids) == 0 or len(docs) == 0:
        return np.ones(len(docs), dtype=bool)
    order = np.lexsort((tomb_gens, tomb_ids))
    ids, gens = tomb_ids[order], tomb_gens[order]
    newest = np.append(ids[1:] != ids[:-1], True)
    ids, gens = ids[newest], gens[newest]
    idx = np.minimum(np.searchsorted(ids, docs), len(ids) - 1)
    return ~((ids[idx] == docs) & (gens[idx] > post_gens))


def joined_tombstones(rows: pd.DataFrame) -> tuple[np.ndarray, np.ndarray]:
    """Flat (ids, gens) of the tombstones that ``tombstones_per_range``'s
    left join attached to a batch of segment rows — each range's arrays
    counted once (empty when the join was skipped or matched nothing)."""
    if "tomb_ids" not in rows.columns:
        return np.empty(0, np.int64), np.empty(0, np.int64)
    t = rows.loc[rows["tomb_ids"].notna(), ["range_id", "tomb_ids", "tomb_gens"]]
    t = t.drop_duplicates(subset=["range_id"])
    if t.empty:
        return np.empty(0, np.int64), np.empty(0, np.int64)
    return (np.concatenate(t["tomb_ids"].to_list()).astype(np.int64),
            np.concatenate(t["tomb_gens"].to_list()).astype(np.int64))


def decode_live(rows: pd.DataFrame, tomb_ids: np.ndarray, tomb_gens: np.ndarray,
                values: bool = True):
    """Batch-decode segment rows (with a ``gen`` column) and drop the
    postings the tombstones kill -> (docs, tfs, dls, live postings per
    row), rows back to back. ``values=False`` decodes doc ids only (tfs
    and dls come back None)."""
    docs, tfs, dls, counts = decode_postings_batch(
        rows["doc_ids_blob"], rows["tfs_blob"] if values else None,
        rows["dls_blob"] if values else None)
    keep = live_mask(docs, np.repeat(rows["gen"].to_numpy(np.int64), counts),
                     tomb_ids, tomb_gens)
    if keep.all():
        return docs, tfs, dls, counts
    kept = np.zeros(len(keep) + 1, dtype=np.int64)
    np.cumsum(keep, out=kept[1:])
    bounds = np.zeros(len(counts) + 1, dtype=np.int64)
    np.cumsum(counts, out=bounds[1:])
    return (docs[keep], None if tfs is None else tfs[keep],
            None if dls is None else dls[keep], np.diff(kept[bounds]))


def _make_scorer(df_map: dict | None, n_docs: int, avgdl: float,
                 k1: float, b: float, use_block_max: bool,
                 wand_min_postings: int = 1 << 16,
                 round_to: int | None = None,
                 n_terms_map: dict | None = None,
                 conjunctive: bool = False):
    """Scorer for one docID range, ALL queries at once.

    Grouping by range (not (query, range)) turns q·ranges tiny Arrow
    groups into `ranges` medium ones — far less per-group overhead — and
    lets each (term, gen) posting row be DECODED ONCE and shared by every
    query containing the term (head terms appear in many queries).
    TermCursor traversal state is per-query, so cursors are rebuilt
    cheaply from the shared decoded arrays.

    Vocabulary transport is dual-mode: small batches pass df/n_terms as
    broadcast driver dicts (``df_map``/``n_terms_map``); large batches
    (vocab_in_plan) ship them as the ``df`` / ``_n_terms`` COLUMNS of the
    group itself, so nothing vocabulary-sized ever crosses the driver."""

    def score_group(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        # every (term, gen) row decoded in ONE batch, split back per row
        rows = pdf.drop_duplicates(subset=["term", "gen"])
        docs, tfs, dls, counts = decode_live(rows, *joined_tombstones(rows))
        off = np.zeros(len(counts) + 1, dtype=np.int64)
        np.cumsum(counts, out=off[1:])
        decoded: dict[tuple, tuple | None] = {}
        for i, row in enumerate(rows.itertuples()):
            lo, hi = off[i], off[i + 1]
            if lo == hi:
                decoded[(row.term, int(row.gen))] = None
                continue
            df_val = df_map[row.term] if df_map is not None else row.df
            idf = idf_np(float(df_val), n_docs)
            decoded[(row.term, int(row.gen))] = (
                docs[lo:hi], tfs[lo:hi], dls[lo:hi], idf,
                np.asarray(row.block_last_doc), np.asarray(row.block_max_tf),
                np.asarray(row.block_min_dl),
            )
        out = []
        qcols = ["query_id", "k", "term", "gen"]
        if conjunctive and n_terms_map is None:
            qcols.append("_n_terms")
        qmeta = pdf[qcols]
        for qid, sub in qmeta.groupby("query_id", sort=True):
            k = int(sub["k"].iloc[0])
            cursors = []
            for term, gen in zip(sub["term"], sub["gen"]):
                payload = decoded[(term, int(gen))]
                if payload is None:
                    continue
                docs, tfs, dls, idf, bl, btf, bdl = payload
                # term key embeds the gen: a changed doc's postings live in
                # exactly one (term, gen) cursor; lexicographic sort keeps
                # the scoring order deterministic
                cursors.append(TermCursor(f"{term}\x00{gen}", docs, tfs, dls,
                                          idf, avgdl, bl, btf, bdl, k1, b))
            # hybrid: vectorized exhaustive for range-bounded small lists,
            # block-max WAND where skipping wins (identical results; see
            # wand.exhaustive_topk_vec docstring). Local selection uses the
            # SAME rounded key as the global window rank — a doc dropped by
            # an unrounded local heap could round-tie a kept doc and win
            # the doc_id tie-break globally. Conjunctive (AND) mode keeps
            # only docs matched by every query term (see
            # wand.conjunctive_topk_vec).
            if conjunctive:
                n_terms = (n_terms_map[int(qid)] if n_terms_map is not None
                           else int(sub["_n_terms"].iloc[0]))
                top = conjunctive_topk_vec(cursors, k, n_terms, round_to)
            elif sum(c.n for c in cursors) < wand_min_postings:
                top = exhaustive_topk_vec(cursors, k, round_to=round_to)
            else:
                top = wand_topk(cursors, k, use_block_max=use_block_max,
                                round_to=round_to)
            if top:
                out.append(pd.DataFrame(
                    {"query_id": int(qid), "k": k,
                     "doc_id": [d for d, _ in top], "score": [s for _, s in top]}))
        if not out:
            return pd.DataFrame({"query_id": pd.Series(dtype="int32"),
                                 "k": pd.Series(dtype="int32"),
                                 "doc_id": pd.Series(dtype="int64"),
                                 "score": pd.Series(dtype="float64")})
        return pd.concat(out, ignore_index=True)

    return score_group


def bm25_topk_wand(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    cfg: IndexConfig,
    gen: int | None = None,
    round_digits: int | None = 6,
    use_block_max: bool = True,
    conjunctive: bool = False,
    vocab_in_plan: bool | None = None,
) -> DataFrame:
    """-> (query_id, rank, doc_id, score): per-query top-k over the
    published index (or ``gen``'s chain). ``queries`` needs
    (query_id, query_text, k). ``conjunctive``: AND semantics — only docs
    containing every query term rank (docID-range partitioning co-locates
    a doc's postings, so the intersection is evaluated per range with no
    extra movement).

    ``vocab_in_plan``: for very large query batches (10^4+), keep the
    vocabulary in the plan — per-term df and per-query term counts are
    joined in as columns, term pruning is a broadcast semi-join, and the
    only driver-side collect is the bucket-id list (bounded by
    cfg.num_term_buckets regardless of batch size). None = auto by a
    bounded LIMIT-probe against VOCAB_IN_PLAN_THRESHOLD."""
    chain = mf.manifest_chain(index_dir, gen)
    if not chain:
        raise ValueError(f"no published index at {index_dir}")
    from mee_spark.config import check_layout

    # tombstone masking buckets by range_id = doc_id // cfg.doc_range_size
    # and bucket pruning hashes mod cfg.num_term_buckets — both must be the
    # BUILD-TIME values (persisted in the manifest) or deleted docs silently
    # resurrect / live buckets are silently skipped
    check_layout(cfg, chain)
    gens = [m["generation"] for m in chain]
    n_docs = chain[-1]["n_docs_live"]
    avgdl = chain[-1]["avgdl"]

    qterms = explode_query_terms(queries)  # (query_id, k, term)
    if vocab_in_plan is None:
        # bounded probe: LIMIT caps the action's cost at threshold+1 rows
        # however large the batch is. collect(), not count(): a local
        # query relation (the common interactive case) answers a
        # limit-collect straight from the driver with NO Spark job, while
        # count() always schedules one (round 7 — each trivial action is
        # ~0.3 s of serial driver time per query call)
        vocab_in_plan = (len(queries.select("query_id")
                             .limit(VOCAB_IN_PLAN_THRESHOLD + 1)
                             .collect()) > VOCAB_IN_PLAN_THRESHOLD)

    if vocab_in_plan:
        # the only driver-side list is the bucket ids — bounded by
        # cfg.num_term_buckets no matter how large the vocabulary is
        vocab = qterms.select("term").distinct()
        buckets = sorted(r["b"] for r in vocab.select(
            F.pmod(F.xxhash64("term"), F.lit(cfg.num_term_buckets))
            .cast("long").alias("b")).distinct().collect())
        if not buckets:
            return spark.createDataFrame(
                [], "query_id int, rank long, doc_id long, score double")
        # term pruning by broadcast semi-join instead of a 10^5-literal
        # isin: the scan still prunes whole bucket directories; within a
        # bucket the join filters (a giant IN list would bloat the plan
        # and push poorly anyway)
        segs = read_segments(spark, index_dir, gens).filter(
            F.col("bucket").isin(buckets)).join(
            F.broadcast(vocab), "term", "semi")
    else:
        # ONE collect carries both the distinct terms and their bucket
        # ids (the bucket hash is a column of the same tiny relation) —
        # the old shape spent a second full action re-hashing the terms
        # (round 7: two trivial actions → one)
        rows = (qterms.select("term").distinct()
                .select("term",
                        F.pmod(F.xxhash64("term"), F.lit(cfg.num_term_buckets))
                        .cast("long").alias("_b")).collect())
        terms = [r["term"] for r in rows]
        if not terms:
            return spark.createDataFrame(
                [], "query_id int, rank long, doc_id long, score double")
        buckets = sorted({r["_b"] for r in rows})
        segs = read_segments(spark, index_dir, gens).filter(
            F.col("bucket").isin(buckets) & F.col("term").isin(terms))

    # Tombstones join in per docID range so every consumer sees them.
    # ROUND 7: the pruned scan is no longer cached and the candidate set
    # no longer eagerly checkpointed — every pass is lazy. The df
    # aggregation and the scoring join each evaluate the pruned scan
    # once; on the no-tombstone path (fresh or compacted index — the
    # steady state) the df pass is a metadata aggregate over (term,
    # df_local) only, so Parquet column pruning makes it nearly free and
    # the blob columns are read exactly once, by the scoring job. On a
    # tombstone chain the df pass must decode blobs, so the pruned scan
    # is read twice — bounded work (query terms only, and the
    # compaction policy caps chain length/tombstone ratio), measured
    # flat vs the old cache+checkpoint shape even on the 2-gen
    # lifecycle chain, while dropping two materialization passes from
    # every call and keeping the CacheManager trivially empty.
    tombs = tombstones_per_range(spark, index_dir, gens, cfg.doc_range_size)
    if tombs is not None:
        segs = segs.join(tombs, "range_id", "left")

    if tombs is not None:
        # exact live df needs decode (old gens still hold dead postings)
        def live_counts(batches):
            for pdf in batches:
                counts = decode_live(pdf, *joined_tombstones(pdf), values=False)[3]
                yield pd.DataFrame({"term": pdf["term"].to_numpy(), "live": counts})

        df_agg = (segs.mapInPandas(live_counts, "term string, live long")
                  .groupBy("term").agg(F.sum("live").alias("df")))
    else:
        df_agg = segs.groupBy("term").agg(F.sum("df_local").alias("df"))
    if vocab_in_plan:
        # df stays a COLUMN: the per-term aggregate (query vocabulary
        # only — tiny next to the index) broadcast-joins back onto the
        # cached pruned scan; nothing vocabulary-sized reaches the driver
        df_map = None
        segs_q = segs.join(F.broadcast(df_agg), "term")
    else:
        df_map = {r["term"]: int(r["df"]) for r in df_agg.collect()}
        segs_q = segs

    qt = qterms
    n_terms_map = None
    if conjunctive:
        if vocab_in_plan:
            qt = qterms.join(
                qterms.groupBy("query_id").agg(
                    F.count("*").alias("_n_terms")), "query_id")
        else:
            n_terms_map = {int(r["query_id"]): int(r["n"]) for r in
                           qterms.groupBy("query_id").agg(
                               F.count("*").alias("n")).collect()}

    # parallelism = ranges x query-shards: sharding the query batch keeps
    # big batches parallel even over few ranges, while queries within a
    # shard still share each (term, gen) decode. Fixed 8: a batch with
    # fewer queries just leaves shards empty (no rows -> no groups), so
    # no count() action is spent sizing it (every extra action is
    # serial driver time on the query-latency floor)
    n_qshards = 8
    joined = (
        segs_q.join(F.broadcast(qt), "term")
        .withColumn("_qshard", F.pmod(F.col("query_id"), F.lit(n_qshards)))
    )
    scorer = _make_scorer(df_map, n_docs, avgdl, cfg.k1, cfg.b,
                          use_block_max, cfg.wand_min_postings,
                          round_to=round_digits, n_terms_map=n_terms_map,
                          conjunctive=conjunctive)
    local = joined.groupBy("range_id", "_qshard").applyInPandas(scorer, _LOCAL_SCHEMA)

    # scores leave the scorer already rounded (the kernels select by the
    # rounded key); F.round here is an identity re-statement that keeps
    # the output contract explicit for the unrounded path too
    score_key = (
        F.round(F.col("score"), round_digits) if round_digits is not None else F.col("score")
    )
    w = Window.partitionBy("query_id").orderBy(score_key.desc(), F.col("doc_id").asc())
    out_score = score_key.alias("score") if round_digits is not None else F.col("score")
    return (
        local.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= F.col("k"))
        .select(F.col("query_id").cast("int").alias("query_id"), "rank",
                F.col("doc_id").cast("long").alias("doc_id"), out_score)
    )
