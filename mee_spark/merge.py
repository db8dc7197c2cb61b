"""Segment compaction: collapse a generation chain into one generation.

mee's incremental path grows state forever (ES absorbs it); our LSM-style
chain accumulates delta generations + tombstones, and compaction is the
counterpart of ES's own segment merging: keep every LIVE posting across
the chain, rewrite a single fresh generation, drop tombstones. Queries
before/after compaction are identical (tested).

Scale shape: a segment-row merge. Segment rows are already keyed by
(bucket, range_id), so the compressed rows of every generation are
grouped by that key and cogrouped with the range's tombstones
(replicated to each term bucket, so a task sees at most doc_range_size
ids; nothing reaches the driver). One Python task per (bucket, range)
batch-decodes the group's runs, masks dead postings per generation and
hands the survivors to the writer core every build shares
(``segments.write_segment``: atomic rename, ``.done`` checkpoints,
resume skip). Only compressed blobs cross the shuffle, and postings never
leave the task that decodes them.

A small chain is compacted on the driver instead, with no Spark job: a
Spark compaction's fixed cost (its jobs, stages and Python workers) is
most of a small chain's. The gate is read from the manifests before any
read (``build.fits_driver``): the chain's docmap rows, recorded postings
and tombstones must fit the driver budgets
(``build.DRIVER_MAX_DOCMAP_ROWS``,
``query_wand.DRIVER_MAX_DECODE_POSTINGS``, ``DRIVER_MAX_TOMBSTONES``).
Below it pyarrow reads the segment rows and tombstones, each (bucket,
range) goes through the same compactor and ``write_groups`` checkpoints
as a Spark task's, and the live docmap is computed and written with
pyarrow (``build.live_docmap_table``). The manifest records the plan
taken, ``metrics.plan`` = "driver" or "spark".

It commits through ``build.write_generation``, the one commit path of
every generation. Every generation records ``next_doc_id``; ids are never
recycled, compaction included: it keeps the chain tail's watermark.
"""

from __future__ import annotations

import functools
import time

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mee_spark import manifest as mf
from mee_spark import query_wand
from mee_spark.build import (
    Generation,
    fits_driver,
    live_docmap,
    live_docmap_table,
    read_tombstone_arrays,
    read_tombstones,
    write_generation,
)
from mee_spark.config import IndexConfig
from mee_spark.query_wand import joined_tombstones, tombstones_per_range
from mee_spark.segments import (
    METRICS_SCHEMA,
    decode_live,
    groups_on_driver,
    read_rows,
    read_segments,
    sorted_term_codes,
    write_groups,
    write_segment,
)

# the segment columns a compactor reads, with its (bucket, range) key
_COMPACT_COLUMNS = ["bucket", "range_id", "gen", "term",
                    "doc_ids_blob", "tfs_blob", "dls_blob"]


def decoded_postings(spark: SparkSession, index_dir: str, gens: list[int],
                     range_size: int):
    """Explode all LIVE postings of the chain back to (term, doc_id, tf, dl).

    Tombstone masks (docs superseded/deleted at a later gen) are applied
    during decode, identical to the query path: tombstones stay a
    DataFrame, joined per docID range — never collected to the driver
    (a high-churn chain's tombstone set outgrows driver memory long
    before compaction becomes urgent)."""
    segs = read_segments(spark, index_dir, gens)
    tombs = tombstones_per_range(spark, index_dir, gens, range_size)
    if tombs is not None:
        segs = segs.join(tombs, "range_id", "left")

    def explode(batches):
        for pdf in batches:
            docs, tfs, dls, counts = decode_live(pdf, *joined_tombstones(pdf))
            yield pd.DataFrame({"term": np.repeat(pdf["term"].to_numpy(), counts),
                                "doc_id": docs, "tf": tfs, "dl": dls})

    return segs.mapInPandas(explode, "term string, doc_id long, tf long, dl long")


def _make_compactor(seg_root: str, ckpt_root: str, block_size: int):
    """Group fn (a Spark cogroup's, or the driver loop's): one (bucket,
    range)'s segment rows from every generation plus the range's
    tombstones → that group's compacted file."""

    def compact_group(key: tuple, segs: pd.DataFrame,
                      tombs: pd.DataFrame) -> pd.DataFrame:
        t0 = time.monotonic()
        docs, tfs, dls, counts = decode_live(
            segs, tombs["doc_id"].to_numpy(np.int64),
            tombs["tomb_gen"].to_numpy(np.int64))
        # no live posting (every one dead, or only tombstones reached this
        # key): write no file, exactly as if no posting had come here
        if len(docs) == 0:
            return pd.DataFrame(columns=METRICS_SCHEMA.fieldNames())
        row_codes, terms = sorted_term_codes(segs["term"])
        codes = np.repeat(row_codes, counts)
        # a term whose postings here are all dead leaves the term list,
        # so every remaining term owns at least one run
        present = np.zeros(len(terms), dtype=bool)
        present[codes] = True
        if not present.all():
            codes = (np.cumsum(present) - 1)[codes]
            terms = terms[present]
        order = np.lexsort((docs, codes))
        return write_segment(seg_root, ckpt_root, block_size, int(key[0]),
                             int(key[1]), terms, codes[order], docs[order],
                             tfs[order], dls[order], t0)

    return compact_group


def compact_segments(spark: SparkSession, index_dir: str, gens: list[int],
                     cfg: IndexConfig, new_gen: int) -> list[dict]:
    """Merge the chain's segment rows into ``new_gen``'s segment files,
    one task per (bucket, range); returns per-group metrics."""
    segs = read_segments(spark, index_dir, gens).select(*_COMPACT_COLUMNS)
    tombs = read_tombstones(spark, index_dir, gens)
    if tombs is None:
        tombs = spark.createDataFrame([], "doc_id long, tomb_gen long")
    # each range's tombstones go to every term bucket's group of it
    tombs = tombs.select(
        F.explode(F.sequence(F.lit(0), F.lit(cfg.num_term_buckets - 1)
                             .cast("long"))).alias("bucket"),
        (F.col("doc_id") / F.lit(cfg.doc_range_size)).cast("long").alias("range_id"),
        F.col("doc_id").cast("long"), F.col("tomb_gen").cast("long"))

    def run(keyed: DataFrame, seg_root: str, ckpt_root: str) -> DataFrame:
        compactor = _make_compactor(seg_root, ckpt_root, cfg.block_size)
        return keyed.groupBy("bucket", "range_id").cogroup(
            tombs.groupBy("bucket", "range_id")).applyInPandas(
            compactor, METRICS_SCHEMA)

    return write_groups(segs, index_dir, new_gen, resume=True, run=run)


def compact_segments_on_driver(index_dir: str, gens: list[int],
                               cfg: IndexConfig, new_gen: int) -> list[dict]:
    """``compact_segments`` on the driver, with no Spark job: the chain's
    segment rows and tombstones are read with pyarrow, and each (bucket,
    range)'s rows and tombstones go through the same compactor, checkpoint
    and resume skip (``write_groups``) as the cogroup plan's groups."""
    # read_rows adds the gen column itself
    rows = read_rows(index_dir, gens, list(range(cfg.num_term_buckets)),
                     [c for c in _COMPACT_COLUMNS if c != "gen"], None)
    segs = (pd.DataFrame(columns=_COMPACT_COLUMNS) if rows is None
            else rows.to_pandas())
    tomb_ids, tomb_gens = read_tombstone_arrays(index_dir, gens)
    # each range's tombstones are one slice of the range-sorted arrays
    tomb_ranges = tomb_ids // cfg.doc_range_size
    order = np.argsort(tomb_ranges, kind="stable")
    tomb_ids, tomb_gens, tomb_ranges = (
        tomb_ids[order], tomb_gens[order], tomb_ranges[order])

    def run(keyed: pd.DataFrame, seg_root: str, ckpt_root: str) -> pd.DataFrame:
        compactor = _make_compactor(seg_root, ckpt_root, cfg.block_size)

        def compact_group(key: tuple, group: pd.DataFrame) -> pd.DataFrame:
            lo, hi = np.searchsorted(tomb_ranges, [key[1], key[1] + 1])
            return compactor(key, group, pd.DataFrame(
                {"doc_id": tomb_ids[lo:hi], "tomb_gen": tomb_gens[lo:hi]}))

        return groups_on_driver(keyed, compact_group)

    return write_groups(segs, index_dir, new_gen, resume=True, run=run)


def compaction_due(index_dir: str, *, max_chain_len: int = 8,
                   max_tombstone_ratio: float = 0.2) -> dict:
    """Manifest-driven compaction policy (round-5): should the published
    chain be collapsed? Reads ONLY manifest metadata — no Spark job, no
    segment IO — so a scheduler can poll it for free.

    Two triggers, either sufficient:
      * chain length > ``max_chain_len``: every query pays a per-gen
        merge (tombstone join + last-writer-wins mask per generation), so
        a long-lived incremental chain degrades read latency linearly;
      * accumulated tombstones > ``max_tombstone_ratio`` of the live doc
        count: dead postings are decoded and masked on every read, and at
        high churn the chain carries more dead weight than live index.
    Changed docs count as tombstones (tombstone + re-add), matching what
    the read path actually masks. A compaction manifest has parent=None,
    so the counters reset naturally after each compaction."""
    chain = mf.manifest_chain(index_dir)
    n_tombs = mf.tombstone_count(chain)
    n_live = int(chain[-1]["n_docs_live"]) if chain else 0
    ratio = (n_tombs / n_live) if n_live else (1.0 if n_tombs else 0.0)
    reasons = []
    if len(chain) > max_chain_len:
        reasons.append(f"chain_len {len(chain)} > {max_chain_len}")
    if ratio > max_tombstone_ratio:
        reasons.append(
            f"tombstone_ratio {ratio:.3f} > {max_tombstone_ratio}")
    return {"due": bool(reasons), "chain_len": len(chain),
            "n_tombstones": n_tombs, "n_docs_live": n_live,
            "tombstone_ratio": round(ratio, 4), "reasons": reasons}


def maybe_compact(spark: SparkSession, index_dir: str, cfg: IndexConfig, *,
                  max_chain_len: int = 8,
                  max_tombstone_ratio: float = 0.2) -> dict | None:
    """Run ``compact`` iff ``compaction_due`` says so; returns the new
    manifest, or None when the chain is healthy. The maintenance entry a
    long-lived incremental deployment calls after each batch so nobody
    has to remember to compact (VERDICT r4 #7)."""
    decision = compaction_due(index_dir, max_chain_len=max_chain_len,
                              max_tombstone_ratio=max_tombstone_ratio)
    if not decision["due"]:
        return None
    new_gen = (mf.current_gen(index_dir) or 0) + 1
    # the policy decision rides inside compact's metrics so it reaches
    # the on-disk manifest audit trail, not just the returned dict
    return compact(spark, index_dir, cfg, new_gen=new_gen,
                   extra_metrics={"policy": decision})


def compact(spark: SparkSession, index_dir: str, cfg: IndexConfig,
            new_gen: int, publish: bool = True,
            extra_metrics: dict | None = None) -> dict:
    """Rewrite the whole published chain as single generation ``new_gen``,
    in the chain's layout (``cfg``'s layout fields are not read), through
    the commit path every generation shares (``build.write_generation``):
    on the driver when the chain fits its budgets (``build.fits_driver``),
    in a Spark cogroup otherwise.

    ``extra_metrics`` entries are merged into the manifest's metrics
    BEFORE it is persisted (callers like ``maybe_compact`` record their
    trigger decision in the audit trail this way)."""
    chain, cfg = mf.open_chain(index_dir, cfg)
    gens = [m["generation"] for m in chain]
    tail = chain[-1]
    on_driver = fits_driver(chain, decode=True)

    def stage(gdir: str) -> Generation:
        # consolidated docmap = live rows only, written while the segment
        # merge runs (neither reads the other's output)
        if on_driver:
            docmap = live_docmap_table(index_dir, gens)
            segments = functools.partial(compact_segments_on_driver,
                                         index_dir, gens, cfg, new_gen)
        else:
            docmap = live_docmap(spark, index_dir, gens)
            segments = functools.partial(compact_segments, spark, index_dir,
                                         gens, cfg, new_gen)
        return Generation(
            docmap=docmap, segments=segments,
            n_docs=tail["n_docs_live"], n_docs_live=tail["n_docs_live"],
            sum_dl_live=tail["sum_dl_live"],
            # the tail's watermark: the ids of docs deleted along the chain
            # stay retired, so compaction recycles none of them
            next_doc_id=tail["next_doc_id"],
            metrics={"plan": "driver" if on_driver else "spark",
                     "compacted_gens": gens, **(extra_metrics or {})})

    return write_generation(index_dir, cfg, new_gen, "compaction", chain,
                            stage, lineage={"compacted_from": gens},
                            publish=publish)
