"""Full + incremental index build drivers.

Full build = mee's `update.py` rebuild lifecycle (`services/
updateservice.py:47-80`): guard → build into a fresh generation →
atomic publish. Incremental build = mee's binlog sync (`services/
syncservice.py:53-114` + the 12-way event matrix in
`modules/handlers/v1/commonhandler.py:595-605`) reframed as snapshot
diffing: INSERT → new postings in a delta gen; UPDATE (changed text) →
tombstone old docID + fresh postings, keeping the docID since ``url``
(the anchor field, `handlerconfig.py:528-568`) is unchanged; DELETE →
tombstone only. No full rebuild, readers see the old gen until publish.

The snapshot is diffed ONCE: one job extracts and hashes its text,
full-outer-joins it against the live docmap and stages only the added,
changed and deleted rows (``_diff_staging.parquet``). Every later write
— tombstones, docID assignment, the tokenized delta, docmap, segments —
reads that small file, so the extraction UDF crosses the Python
boundary once per refresh whatever the plan shape downstream.

Everything the query engine needs later is durable per gen:
``docmap.parquet`` (url, doc_id, dl, text_hash), segment files,
``tombstones.parquet``, and a manifest with lineage + per-partition
throughput metrics. Each file's read schema sits next to its writer
here, so reads skip Spark's footer-inference job.
"""

from __future__ import annotations

import os
import shutil
import threading
import time

import numpy as np
import pyarrow as pa
import pyarrow.dataset as ds
from pyspark.sql import Column, DataFrame, Observation, Row, SparkSession
from pyspark.sql import functions as F

from mee_spark import manifest as mf
from mee_spark.config import IndexConfig, layout_record
from mee_spark.docmap import assign_doc_ids
from mee_spark.segments import build_segments
from mee_spark.textprep import extract_text, tokenize_col

DOCMAP_SCHEMA = "url string, doc_id long, dl long, text_hash long"
TOMBSTONES_SCHEMA = "doc_id long"
TOMBSTONES_ARROW_SCHEMA = pa.schema([("doc_id", pa.int64())])
DOCS_STAGING_SCHEMA = ("doc_id long, url string, tokens array<string>, "
                       "dl long, text_hash long")
# kind: added | changed | deleted (unchanged urls are not staged);
# deleted rows have null _text/text_hash, added rows null old_*
DIFF_SCHEMA = ("url string, kind string, old_doc_id long, old_dl long, "
               "_text string, text_hash long")


def _docmap_path(index_dir: str, gen: int) -> str:
    return os.path.join(mf.gen_dir(index_dir, gen), "docmap.parquet")


def _tombstones_path(index_dir: str, gen: int) -> str:
    return os.path.join(mf.gen_dir(index_dir, gen), "tombstones.parquet")


def _hashed_text(pages: DataFrame, use_html: bool) -> DataFrame:
    """(url, _text, text_hash): extracted text + its hash (the diff key,
    mee J5 `commonhandler.py:164-170`: changed fields detection)."""
    text_col = extract_text(F.col("html")) if use_html else F.col("text")
    return pages.select("url", text_col.alias("_text")).withColumn(
        "text_hash", F.xxhash64(F.col("_text")))


def _with_tokens(docs: DataFrame) -> DataFrame:
    """``_text`` -> its ``tokens`` and their count ``dl``."""
    return (docs.withColumn("tokens", tokenize_col(F.col("_text")))
            .withColumn("dl", F.size("tokens").cast("long")).drop("_text"))


def _stage(plan: DataFrame, path: str, schema: str,
           *aggs: Column) -> tuple[DataFrame, Row]:
    """Spill ``plan`` to ``path`` and re-read it; ``aggs`` ride the write
    via observe() — one job, not two. -> (staged frame, observed values).

    Staging is parquet, not a cache: an in-memory cache of token arrays
    OOMs long before web scale, while a columnar spill is SPIMI's classic
    on-disk run (sequential IO, column-pruned by every reader). Snappy,
    not the session's zstd default (round 7, guide §6): the file is
    transient, read a few times and deleted on success, the classic
    cheap-codec trade for intermediates."""
    obs = Observation()
    plan.observe(obs, *aggs).write.mode("overwrite").option(
        "compression", "snappy").parquet(path)
    return plan.sparkSession.read.schema(schema).parquet(path), obs.get


def _concurrent(*writes):
    """Run ``writes`` as concurrent Spark jobs; returns the last's result.

    All but the last run on daemon threads, the last inline, so a small
    side write hides inside a big one instead of adding a serial job to
    the build's Amdahl floor (round 7, guide §2.6). Every thread is
    joined even on error: a same-gen retry (resume=True flow) must never
    start while a stale write of the SAME path is still in flight —
    interleaved writes corrupt the parquet. An error of the inline write
    propagates; otherwise the first side write's error is re-raised."""
    errors: list[BaseException] = []

    def guarded(write) -> None:
        try:
            write()
        except BaseException as e:  # surfaced after join()
            errors.append(e)

    threads = [threading.Thread(target=guarded, args=(w,), daemon=True)
               for w in writes[:-1]]
    for t in threads:
        t.start()
    try:
        result = writes[-1]()
    finally:
        for t in threads:
            t.join()
    if errors:
        raise errors[0]
    return result


def _write_docmap_and_segments(docs: DataFrame, cfg: IndexConfig,
                               index_dir: str, gen: int,
                               resume: bool) -> list[dict]:
    """Phase shared by both builds: docmap write ∥ segment build, both
    reading the staged docs. Raw token instances go straight into the
    (bucket, range) shuffle: the writer aggregates tf itself (see
    _make_writer) — one posting-sized shuffle, not two (round 7)."""
    raw = docs.select("doc_id", "dl", F.explode("tokens").alias("term"))
    return _concurrent(
        lambda: docs.select("url", "doc_id", "dl", "text_hash").write.mode(
            "overwrite").parquet(_docmap_path(index_dir, gen)),
        lambda: build_segments(raw, cfg, index_dir, gen, resume=resume))


def build_full_index(
    spark: SparkSession,
    pages: DataFrame,
    cfg: IndexConfig,
    index_dir: str,
    gen: int = 1,
    use_html: bool = True,
    resume: bool = True,
    lineage: dict | None = None,
    publish: bool = True,
) -> dict:
    """Full rebuild into ``gen``; atomic publish on success. Returns manifest.

    ``gen`` must exceed the published generation: rebuilding a published
    generation in place would overwrite its docmap under its readers, and
    a resumed build would keep the old corpus's checkpointed segments.
    Rerunning an unpublished (failed) generation is allowed."""
    t0 = time.monotonic()
    cur = mf.current_gen(index_dir)
    if cur is not None and gen <= cur:
        raise ValueError(
            f"generation {gen} must exceed the published generation ({cur})")
    if cfg.lang_filter:
        pages = pages.filter(F.col("lang") == cfg.lang_filter)
    os.makedirs(mf.gen_dir(index_dir, gen), exist_ok=True)
    docmap = assign_doc_ids(pages, cfg.num_doc_partitions)
    # single extraction pass feeds hash + tokens + doclen; the corpus
    # stats ride the staging write
    staging = os.path.join(mf.gen_dir(index_dir, gen), "_docs_staging.parquet")
    docs, stats = _stage(
        _with_tokens(_hashed_text(pages, use_html)).join(docmap, "url"),
        staging, DOCS_STAGING_SCHEMA,
        F.count(F.lit(1)).alias("n"), F.sum("dl").alias("sum_dl"),
        F.max("doc_id").alias("max_id"))
    n_docs = int(stats["n"])
    sum_dl = int(stats["sum_dl"] or 0)
    # the NEXT fresh docID, recorded in the manifest so incremental builds
    # can append without re-scanning the live docmap for max(doc_id)
    max_id = stats["max_id"]
    next_doc_id = int(max_id) + 1 if max_id is not None else 0
    part_metrics = _write_docmap_and_segments(docs, cfg, index_dir, gen, resume)
    shutil.rmtree(staging, ignore_errors=True)
    wall = time.monotonic() - t0
    m = mf.write_manifest(
        index_dir, gen, parent=None, n_docs_live=n_docs, sum_dl_live=sum_dl,
        metrics={
            "kind": "full", "wall_sec": wall, "docs_indexed": n_docs,
            "docs_per_sec": (n_docs / wall) if wall else 0.0,
            "partitions": part_metrics,
        },
        lineage=lineage or {},
        extra={"config": layout_record(cfg), "next_doc_id": next_doc_id},
    )
    if publish:
        mf.publish(index_dir, gen)
    return m


def build_incremental(
    spark: SparkSession,
    new_snapshot: DataFrame,
    cfg: IndexConfig,
    index_dir: str,
    gen: int,
    use_html: bool = True,
    resume: bool = True,
    lineage: dict | None = None,
    publish: bool = True,
    partial: bool = False,
) -> dict:
    """Delta build: diff ``new_snapshot`` against the live index state.

    Added urls get fresh docIDs (appended past the current max); changed
    urls keep their docID (anchor unchanged) but are tombstoned+re-added;
    missing urls are tombstoned. Merged at query time — no rebuild. The
    layout comes from the published chain, not ``cfg``.

    ``partial=True`` treats the input as an upsert batch rather than a
    full snapshot: urls absent from it are NOT deletions (mee's event
    semantics — a DELETE is an explicit event, `commonhandler.py:
    860-938`; silence says nothing). Used by the streaming path.
    """
    t0 = time.monotonic()
    if cfg.lang_filter:
        new_snapshot = new_snapshot.filter(F.col("lang") == cfg.lang_filter)
    # the layout (range size, term buckets) is the chain's, not the caller's
    chain, cfg = mf.open_chain(index_dir, cfg, new_gen=gen)
    parent = chain[-1]["generation"]
    prev = live_docmap(spark, index_dir, [m["generation"] for m in chain])
    gdir = mf.gen_dir(index_dir, gen)
    os.makedirs(gdir, exist_ok=True)

    # Five writes in three phases, the snapshot read by the first only:
    #   diff:    extract + hash + full-outer-join against the live docmap,
    #            label each url, stage the non-unchanged rows;
    #   phase 1: tombstones ∥ tokenized delta staging (both read the diff);
    #   phase 2: docmap ∥ segment build (both read the delta staging).
    # Corpus stats delta (exact): N' = N + added − deleted; Σdl' likewise,
    # replacing changed docs' old dl with the new one. The removed-docs
    # aggregate (changed ∪ deleted = the tombstone rows) rides the diff
    # write, the delta's rides the staging write.
    kind = (F.when(F.col("old_doc_id").isNull(), "added")
            .when(F.col("text_hash").isNull(), "deleted")
            .when(F.col("text_hash") != F.col("old_hash"), "changed"))
    diff = _hashed_text(new_snapshot, use_html).join(
        prev.select("url", F.col("doc_id").alias("old_doc_id"),
                    F.col("dl").alias("old_dl"),
                    F.col("text_hash").alias("old_hash")),
        "url", "full_outer").select(
        "url", kind.alias("kind"), "old_doc_id", "old_dl", "_text",
        "text_hash").filter(F.col("kind").isNotNull())
    if partial:
        diff = diff.filter(F.col("kind") != "deleted")
    removed = F.col("kind") != "added"
    diff_path = os.path.join(gdir, "_diff_staging.parquet")
    staged_diff, rem = _stage(
        diff, diff_path, DIFF_SCHEMA, F.count_if(removed).alias("n"),
        F.sum(F.when(removed, F.col("old_dl"))).alias("s"),
        F.count_if(F.col("kind") == "changed").alias("nc"))
    n_removed, dl_removed = int(rem["n"]), int(rem["s"] or 0)
    n_changed = int(rem["nc"])

    # next fresh docID comes from the manifest chain — the newest manifest
    # records next_doc_id as of its own build, so no Spark job is spent
    # re-deriving max(doc_id) from the live docmap (that aggregate was a
    # whole serial job on the incremental path's Amdahl floor). Fallback
    # scan only for chains written before the field existed. IDs are
    # monotone across the chain and never recycled, even after mass
    # deletions — last-writer-wins masks compare generations, and a gap in
    # the id space costs nothing.
    start_id = chain[-1].get("next_doc_id")
    if start_id is None:
        max_id = prev.agg(F.max("doc_id")).collect()[0][0]
        start_id = int(max_id) + 1 if max_id is not None else 0
    upserts = staged_diff.filter(F.col("kind") != "deleted")
    added_ids = assign_doc_ids(upserts.filter(F.col("kind") == "added"),
                               cfg.num_doc_partitions, start_id=start_id)
    # changed urls keep their docID: no match in added_ids
    delta_plan = _with_tokens(upserts.join(added_ids, "url", "left").select(
        F.coalesce("doc_id", "old_doc_id").alias("doc_id"), "url", "_text",
        "text_hash"))
    staging = os.path.join(gdir, "_docs_staging.parquet")
    delta_docs, delta = _concurrent(
        lambda: staged_diff.filter(removed).select(
            F.col("old_doc_id").alias("doc_id")).write.mode(
            "overwrite").parquet(_tombstones_path(index_dir, gen)),
        lambda: _stage(delta_plan, staging, DOCS_STAGING_SCHEMA,
                       F.count(F.lit(1)).alias("n"), F.sum("dl").alias("s"),
                       F.max("doc_id").alias("m")))
    n_delta, dl_delta = int(delta["n"]), int(delta["s"] or 0)
    # advance the chain's next_doc_id watermark: a delete-only or
    # changed-only delta allocates nothing, so the watermark never moves
    # backwards
    next_doc_id = max(int(start_id),
                      int(delta["m"]) + 1 if delta["m"] is not None else 0)
    prev_m = chain[-1]
    # changed docs: removed old (in rem) and re-added (in delta) -> net N
    # includes them once
    n_live = prev_m["n_docs_live"] + n_delta - n_removed
    sum_dl_live = prev_m["sum_dl_live"] + dl_delta - dl_removed
    part_metrics = _write_docmap_and_segments(delta_docs, cfg, index_dir, gen,
                                              resume)
    for p in (diff_path, staging):
        shutil.rmtree(p, ignore_errors=True)
    wall = time.monotonic() - t0
    m = mf.write_manifest(
        index_dir, gen, parent=parent, n_docs_live=n_live, sum_dl_live=sum_dl_live,
        metrics={
            "kind": "incremental", "wall_sec": wall,
            "docs_added": n_delta - n_changed, "docs_changed": n_changed,
            "docs_deleted": n_removed - n_changed,
            "docs_per_sec": (n_delta / wall) if wall else 0.0,
            "partitions": part_metrics,
        },
        lineage=lineage or {},
        extra={"config": layout_record(cfg), "next_doc_id": next_doc_id},
    )
    if publish:
        mf.publish(index_dir, gen)
    return m


def live_docmap(spark: SparkSession, index_dir: str, gens: list[int]) -> DataFrame:
    """(url, doc_id, dl, text_hash) of LIVE docs across the gen chain —
    newest gen wins per url, tombstoned-without-replacement urls dropped."""
    from pyspark.sql import Window

    parts = []
    for g in gens:
        parts.append(
            spark.read.schema(DOCMAP_SCHEMA).parquet(_docmap_path(index_dir, g))
            .withColumn("gen", F.lit(g))
        )
    all_docs = parts[0]
    for p in parts[1:]:
        all_docs = all_docs.unionByName(p)
    w = Window.partitionBy("url").orderBy(F.col("gen").desc())
    latest = (
        all_docs.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")
    )
    # drop urls whose doc_id is tombstoned at a gen >= their own gen and not re-added
    tombs = read_tombstones(spark, index_dir, gens)
    if tombs is not None:
        dead = tombs.groupBy("doc_id").agg(F.max("tomb_gen").alias("tomb_gen"))
        # a changed doc is tombstoned AND re-added in the same gen, so
        # liveness = docmap row at gen >= the newest tombstone for the id
        latest = latest.join(dead, "doc_id", "left").filter(
            F.col("tomb_gen").isNull() | (F.col("gen") >= F.col("tomb_gen"))
        ).drop("tomb_gen")
    return latest.drop("gen")


def read_tombstones(spark: SparkSession, index_dir: str, gens: list[int]) -> DataFrame | None:
    parts = []
    for g in gens:
        p = _tombstones_path(index_dir, g)
        if os.path.isdir(p):
            parts.append(spark.read.schema(TOMBSTONES_SCHEMA).parquet(p)
                         .withColumn("tomb_gen", F.lit(g)))
    if not parts:
        return None
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def read_tombstone_arrays(index_dir: str,
                          gens: list[int]) -> tuple[np.ndarray, np.ndarray]:
    """The chain's tombstones as (doc ids, tomb gens) int64 arrays, read
    on the driver with pyarrow — no Spark job. The driver form of
    ``read_tombstones``, for chains whose tombstones fit in its memory."""
    ids, tomb_gens = [], []
    for g in gens:
        p = _tombstones_path(index_dir, g)
        if os.path.isdir(p):
            col = ds.dataset(p, schema=TOMBSTONES_ARROW_SCHEMA,
                             format="parquet").to_table()["doc_id"]
            ids.append(col.to_numpy())
            tomb_gens.append(np.full(len(col), g, dtype=np.int64))
    if not ids:
        return np.empty(0, np.int64), np.empty(0, np.int64)
    return np.concatenate(ids), np.concatenate(tomb_gens)
