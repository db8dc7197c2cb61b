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

It commits through ``build.write_generation``, the one commit path of
every generation. Every generation records ``next_doc_id``; ids are never
recycled, compaction included: it keeps the chain tail's watermark.
"""

from __future__ import annotations

import time

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mee_spark import manifest as mf
from mee_spark.build import (
    Generation,
    live_docmap,
    read_tombstones,
    write_generation,
)
from mee_spark.config import IndexConfig
from mee_spark.query_wand import joined_tombstones, tombstones_per_range
from mee_spark.segments import (
    METRICS_SCHEMA,
    decode_live,
    read_segments,
    sorted_term_codes,
    write_groups,
    write_segment,
)

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
    """Cogroup fn: one (bucket, range)'s segment rows from every generation
    plus the range's tombstones → that group's compacted file."""

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
    segs = read_segments(spark, index_dir, gens).select(
        "bucket", "range_id", "gen", "term",
        "doc_ids_blob", "tfs_blob", "dls_blob")
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
    the commit path every generation shares (``build.write_generation``).

    ``extra_metrics`` entries are merged into the manifest's metrics
    BEFORE it is persisted (callers like ``maybe_compact`` record their
    trigger decision in the audit trail this way)."""
    chain, cfg = mf.open_chain(index_dir, cfg)
    gens = [m["generation"] for m in chain]
    tail = chain[-1]

    def stage(gdir: str) -> Generation:
        # consolidated docmap = live rows only, written while the segment
        # merge runs (neither reads the other's output)
        return Generation(
            docmap=live_docmap(spark, index_dir, gens),
            segments=lambda: compact_segments(spark, index_dir, gens, cfg,
                                              new_gen),
            n_docs=tail["n_docs_live"], n_docs_live=tail["n_docs_live"],
            sum_dl_live=tail["sum_dl_live"],
            # the tail's watermark: the ids of docs deleted along the chain
            # stay retired, so compaction recycles none of them
            next_doc_id=tail["next_doc_id"],
            metrics={"compacted_gens": gens, **(extra_metrics or {})})

    return write_generation(index_dir, cfg, new_gen, "compaction", chain,
                            stage, lineage={"compacted_from": gens},
                            publish=publish)
