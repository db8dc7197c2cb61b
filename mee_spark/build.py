"""Full + incremental index builds and the one commit path of every generation.

Full build = mee's `update.py` rebuild lifecycle (`services/
updateservice.py:47-80`): guard → build into a fresh generation →
atomic publish. Incremental build = mee's binlog sync (`services/
syncservice.py:53-114` + the 12-way event matrix in
`modules/handlers/v1/commonhandler.py:595-605`) reframed as snapshot
diffing: INSERT → new postings in a delta gen; UPDATE (changed text) →
tombstone old docID + fresh postings, keeping the docID since ``url``
(the anchor field, `handlerconfig.py:528-568`) is unchanged; DELETE →
tombstone only. No full rebuild, readers see the old gen until publish.

One commit path: full build, incremental build and compaction
(``merge.compact``) all end in ``write_generation`` — the generation
guard, the docmap ∥ segments write, staging cleanup, one manifest and
the publish. Every generation records ``next_doc_id``; ids are never
recycled, compaction included.

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

import functools
import glob
import os
import shutil
import time
from typing import Callable, NamedTuple

import numpy as np
import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq
from pyspark import InheritableThread
from pyspark.sql import Column, DataFrame, Observation, Row, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema

from mee_spark import manifest as mf
from mee_spark.config import IndexConfig, layout_record
from mee_spark.docmap import assign_doc_ids
from mee_spark.segments import build_segments, live_mask
from mee_spark.textprep import extract_text, tokenize_col

DOCMAP_ARROW_SCHEMA = pa.schema([("url", pa.string()), ("doc_id", pa.int64()),
                                 ("dl", pa.int64()), ("text_hash", pa.int64())])
DOCMAP_SCHEMA = from_arrow_schema(DOCMAP_ARROW_SCHEMA)
TOMBSTONES_ARROW_SCHEMA = pa.schema([("doc_id", pa.int64())])
TOMBSTONES_SCHEMA = from_arrow_schema(TOMBSTONES_ARROW_SCHEMA)
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


def _hashed_text(pages: DataFrame, use_html: bool,
                 lang_filter: str | None) -> DataFrame:
    """(url, _text, text_hash) of the pages in ``lang_filter`` (if set):
    text + its hash (the diff key, mee J5 `commonhandler.py:164-170`)."""
    if lang_filter:
        pages = pages.filter(F.col("lang") == lang_filter)
    text_col = extract_text(F.col("html")) if use_html else F.col("text")
    return pages.select("url", text_col.alias("_text")).withColumn(
        "text_hash", F.xxhash64(F.col("_text")))


def _with_tokens(docs: DataFrame) -> DataFrame:
    """``_text`` -> its ``tokens`` and their count ``dl``."""
    return (docs.withColumn("tokens", tokenize_col(F.col("_text")))
            .withColumn("dl", F.size("tokens").cast("long")).drop("_text"))


def _stage(plan: DataFrame, gdir: str, name: str, schema: str,
           *aggs: Column) -> tuple[DataFrame, Row]:
    """Spill ``plan`` to ``<gdir>/_<name>_staging.parquet`` (removed by
    ``write_generation``) and re-read it; ``aggs`` ride the write via
    observe() — one job, not two. -> (staged frame, observed values).

    Staging is parquet, not a cache: an in-memory cache of token arrays
    OOMs long before web scale, while a columnar spill is SPIMI's classic
    on-disk run (sequential IO, column-pruned by every reader). Snappy,
    not the session's zstd default (round 7, guide §6): the file is
    transient, read a few times and deleted on success, the classic
    cheap-codec trade for intermediates."""
    path = os.path.join(gdir, f"_{name}_staging.parquet")
    obs = Observation()
    plan.observe(obs, *aggs).write.mode("overwrite").option(
        "compression", "snappy").parquet(path)
    return plan.sparkSession.read.schema(schema).parquet(path), obs.get


def _stage_docs(plan: DataFrame,
                gdir: str) -> tuple[DataFrame, DataFrame, Row]:
    """Stage tokenized docs -> (staged docs, their raw token instances,
    count ``n`` / Σdl ``s`` / max doc_id ``m``). Raw token instances go
    straight into the segments' (bucket, range) shuffle: the writer
    aggregates tf itself (see _make_writer) — one posting-sized shuffle,
    not two (round 7)."""
    docs, stats = _stage(plan, gdir, "docs", DOCS_STAGING_SCHEMA,
                         F.count(F.lit(1)).alias("n"),
                         F.sum("dl").alias("s"), F.max("doc_id").alias("m"))
    return docs, docs.select("doc_id", "dl", F.explode("tokens").alias(
        "term")), stats


def _concurrent(*writes):
    """Run ``writes`` as concurrent Spark jobs; returns the last's result.

    All but the last run on daemon threads, the last inline, so a small
    side write hides inside a big one instead of adding a serial job to
    the build's Amdahl floor (round 7, guide §2.6). The threads are
    ``InheritableThread``s, so side jobs keep the caller's job group and
    other local properties. Every thread is joined even on error: a
    same-gen retry (resume=True flow) must never start while a stale
    write of the SAME path is still in flight — interleaved writes
    corrupt the parquet. An error of the inline write propagates;
    otherwise the first side write's error is re-raised."""
    errors: list[BaseException] = []

    def guarded(write) -> None:
        try:
            write()
        except BaseException as e:  # surfaced after join()
            errors.append(e)

    threads = [InheritableThread(guarded, args=(w,), daemon=True)
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


class Generation(NamedTuple):
    """A generation as its writer stages it, for ``write_generation``."""

    # its docmap rows (other columns are dropped): a DataFrame, or an Arrow
    # table a writer built on the driver
    docmap: DataFrame | pa.Table
    segments: Callable[[], list[dict]]  # its segment write -> group metrics
    n_docs: int  # docs written into it (``docs_per_sec``)
    n_docs_live: int
    sum_dl_live: int
    next_doc_id: int  # the fresh-docID watermark after it
    metrics: dict  # the writer's own manifest metrics


def _write_docmap(docmap: DataFrame | pa.Table, path: str) -> None:
    """Write a generation's docmap rows, replacing any earlier attempt's.
    An Arrow table is written on the driver, with no Spark job, as one
    snappy file in the directory layout Spark's writer leaves, so Spark
    and pyarrow read both forms alike."""
    columns = DOCMAP_ARROW_SCHEMA.names
    if isinstance(docmap, DataFrame):
        docmap.select(*columns).write.mode("overwrite").parquet(path)
        return
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    pq.write_table(docmap.select(columns),
                   os.path.join(path, "part-00000.parquet"),
                   compression="snappy")


def write_generation(index_dir: str, cfg: IndexConfig, gen: int, kind: str,
                     chain: list[dict], stage: Callable[[str], Generation],
                     *, lineage: dict, publish: bool) -> dict:
    """The one commit path of every generation — ``kind`` "full",
    "incremental" or "compaction" — returning its manifest: guard,
    ``stage(gen_dir)`` (the writer's own work), docmap ∥ segment write,
    staging removal, one manifest, atomic publish. Only an incremental
    generation has a parent (the chain's tail).

    The guard runs before any write: ``gen`` must exceed every generation
    of ``chain``, the published chain. Last-writer-wins masks compare
    generation numbers, and rebuilding a published generation would
    overwrite its docmap under its readers (and a resumed build would keep
    its checkpointed segments); rerunning an unpublished (failed)
    generation is allowed."""
    t0 = time.monotonic()
    top = max((m["generation"] for m in chain), default=None)
    if top is not None and gen <= top:
        raise ValueError(
            f"generation {gen} must exceed the published chain's max "
            f"({top}); last-writer-wins is ordered by generation number")
    gdir = mf.gen_dir(index_dir, gen)
    os.makedirs(gdir, exist_ok=True)
    g = stage(gdir)
    partitions = _concurrent(
        lambda: _write_docmap(g.docmap, _docmap_path(index_dir, gen)),
        g.segments)
    for p in glob.glob(os.path.join(gdir, "_*_staging.parquet")):
        shutil.rmtree(p, ignore_errors=True)
    wall = time.monotonic() - t0
    m = mf.write_manifest(
        index_dir, gen,
        parent=chain[-1]["generation"] if kind == "incremental" else None,
        n_docs_live=g.n_docs_live, sum_dl_live=g.sum_dl_live,
        metrics={"kind": kind, "wall_sec": wall,
                 "docs_per_sec": (g.n_docs / wall) if wall else 0.0,
                 "partitions": partitions, **g.metrics},
        lineage=lineage, config=layout_record(cfg),
        next_doc_id=g.next_doc_id)
    if publish:
        mf.publish(index_dir, gen)
    return m


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
    """Full rebuild into ``gen``, a new chain root in ``cfg``'s layout;
    atomic publish on success. Returns the manifest. ``gen`` must exceed
    the published generation (``write_generation``)."""

    def stage(gdir: str) -> Generation:
        texts = _hashed_text(pages, use_html, cfg.lang_filter)
        # single extraction pass feeds hash + tokens + doclen; the corpus
        # stats ride the staging write
        docs, raw, s = _stage_docs(_with_tokens(texts).join(
            assign_doc_ids(texts, cfg.num_doc_partitions), "url"), gdir)
        n = int(s["n"])
        return Generation(
            docmap=docs, segments=functools.partial(
                build_segments, raw, cfg, index_dir, gen, resume=resume),
            n_docs=n, n_docs_live=n, sum_dl_live=int(s["s"] or 0),
            next_doc_id=int(s["m"]) + 1 if s["m"] is not None else 0,
            metrics={"docs_indexed": n})

    return write_generation(index_dir, cfg, gen, "full",
                            mf.manifest_chain(index_dir), stage,
                            lineage=lineage or {}, publish=publish)


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

    Added urls get fresh docIDs (appended past the chain's watermark);
    changed urls keep their docID (anchor unchanged) but are
    tombstoned+re-added; missing urls are tombstoned. Merged at query
    time — no rebuild. The layout comes from the published chain, not
    ``cfg``.

    ``partial=True`` treats the input as an upsert batch rather than a
    full snapshot: urls absent from it are NOT deletions (mee's event
    semantics — a DELETE is an explicit event, `commonhandler.py:
    860-938`; silence says nothing). Used by the streaming path.
    """
    # the layout (range size, term buckets) is the chain's, not the caller's
    chain, cfg = mf.open_chain(index_dir, cfg)
    prev = live_docmap(spark, index_dir, [m["generation"] for m in chain])
    tail = chain[-1]

    def stage(gdir: str) -> Generation:
        # Five writes in three phases, the snapshot read by the first only:
        #   diff:    extract + hash + full-outer-join against the live
        #            docmap, label each url, stage the non-unchanged rows;
        #   phase 1: tombstones ∥ tokenized delta staging (both read it);
        #   phase 2: docmap ∥ segment build (``write_generation``).
        # Corpus stats delta (exact): N' = N + added − deleted; Σdl'
        # likewise, replacing changed docs' old dl with the new one. The
        # removed-docs aggregate (changed ∪ deleted = the tombstone rows)
        # rides the diff write, the delta's rides the staging write.
        kind = (F.when(F.col("old_doc_id").isNull(), "added")
                .when(F.col("text_hash").isNull(), "deleted")
                .when(F.col("text_hash") != F.col("old_hash"), "changed"))
        diff = _hashed_text(new_snapshot, use_html, cfg.lang_filter).join(
            prev.select("url", F.col("doc_id").alias("old_doc_id"),
                        F.col("dl").alias("old_dl"),
                        F.col("text_hash").alias("old_hash")),
            "url", "full_outer").select(
            "url", kind.alias("kind"), "old_doc_id", "old_dl", "_text",
            "text_hash").filter(F.col("kind").isNotNull())
        if partial:
            diff = diff.filter(F.col("kind") != "deleted")
        removed = F.col("kind") != "added"
        staged_diff, rem = _stage(
            diff, gdir, "diff", DIFF_SCHEMA, F.count_if(removed).alias("n"),
            F.sum(F.when(removed, F.col("old_dl"))).alias("s"),
            F.count_if(F.col("kind") == "changed").alias("nc"))
        n_removed, n_changed = int(rem["n"]), int(rem["nc"])

        # fresh docIDs start at the chain tail's watermark, no max(doc_id)
        # job: ids are never recycled, even after mass deletions and
        # compactions, and a gap in the id space costs nothing
        start_id = int(tail["next_doc_id"])
        upserts = staged_diff.filter(F.col("kind") != "deleted")
        added_ids = assign_doc_ids(upserts.filter(F.col("kind") == "added"),
                                   cfg.num_doc_partitions, start_id=start_id)
        # changed urls keep their docID: no match in added_ids
        delta_plan = _with_tokens(upserts.join(added_ids, "url", "left")
                                  .select(F.coalesce("doc_id", "old_doc_id")
                                          .alias("doc_id"),
                                          "url", "_text", "text_hash"))
        delta_docs, raw, delta = _concurrent(
            lambda: staged_diff.filter(removed).select(
                F.col("old_doc_id").alias("doc_id")).write.mode(
                "overwrite").parquet(_tombstones_path(index_dir, gen)),
            lambda: _stage_docs(delta_plan, gdir))
        n_delta = int(delta["n"])
        return Generation(
            docmap=delta_docs, segments=functools.partial(
                build_segments, raw, cfg, index_dir, gen, resume=resume),
            n_docs=n_delta,
            # changed docs: removed old (in rem) and re-added (in delta)
            # -> net N includes them once
            n_docs_live=tail["n_docs_live"] + n_delta - n_removed,
            sum_dl_live=(tail["sum_dl_live"] + int(delta["s"] or 0)
                         - int(rem["s"] or 0)),
            # a delta that allocates nothing keeps the watermark
            next_doc_id=max(start_id, int(delta["m"]) + 1
                            if delta["m"] is not None else 0),
            metrics={"docs_added": n_delta - n_changed,
                     "docs_changed": n_changed,
                     "docs_deleted": n_removed - n_changed})

    return write_generation(index_dir, cfg, gen, "incremental", chain, stage,
                            lineage=lineage or {}, publish=publish)


def live_docmap(spark: SparkSession, index_dir: str, gens: list[int]) -> DataFrame:
    """(url, doc_id, dl, text_hash) of LIVE docs across the gen chain —
    newest gen wins per url, tombstoned-without-replacement urls dropped."""
    all_docs = functools.reduce(DataFrame.unionByName, [
        spark.read.schema(DOCMAP_SCHEMA).parquet(_docmap_path(index_dir, g))
        .withColumn("gen", F.lit(g)) for g in gens])
    w = Window.partitionBy("url").orderBy(F.col("gen").desc())
    latest = all_docs.withColumn("_rn", F.row_number().over(w)).filter(
        F.col("_rn") == 1).drop("_rn")
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


def live_docmap_table(index_dir: str, gens: list[int]) -> pa.Table:
    """``live_docmap``'s rows computed on the driver with pyarrow — no
    Spark job: newest gen wins per url, and a row is dropped when a
    tombstone at a later gen kills its doc id. For chains whose docmaps
    and tombstones fit in driver memory."""
    parts = [ds.dataset(_docmap_path(index_dir, g), schema=DOCMAP_ARROW_SCHEMA,
                        format="parquet").to_table() for g in gens]
    dm = pa.concat_tables([t.append_column("gen", pa.array(
        np.full(t.num_rows, g, np.int64))) for g, t in zip(gens, parts)])
    # a gen holds a url at most once, so (url, newest gen) names one row
    newest = dm.group_by("url").aggregate([("gen", "max")])
    dm = dm.join(newest, ["url", "gen"], right_keys=["url", "gen_max"],
                 join_type="inner")
    keep = live_mask(dm["doc_id"].to_numpy(), dm["gen"].to_numpy(),
                     *read_tombstone_arrays(index_dir, gens))
    return dm.filter(pa.array(keep)).drop_columns("gen").sort_by("doc_id")


def _tombstone_dirs(index_dir: str, gens: list[int]) -> dict[int, str]:
    """gen -> its tombstones dir, for the ``gens`` that wrote one."""
    paths = {g: _tombstones_path(index_dir, g) for g in gens}
    return {g: p for g, p in paths.items() if os.path.isdir(p)}


def read_tombstones(spark: SparkSession, index_dir: str, gens: list[int]) -> DataFrame | None:
    parts = [spark.read.schema(TOMBSTONES_SCHEMA).parquet(p)
             .withColumn("tomb_gen", F.lit(g))
             for g, p in _tombstone_dirs(index_dir, gens).items()]
    return functools.reduce(DataFrame.unionByName, parts) if parts else None


def read_tombstone_arrays(index_dir: str,
                          gens: list[int]) -> tuple[np.ndarray, np.ndarray]:
    """The chain's tombstones as (doc ids, tomb gens) int64 arrays, read
    on the driver with pyarrow — no Spark job. The driver form of
    ``read_tombstones``, for chains whose tombstones fit in its memory."""
    ids = {g: ds.dataset(p, schema=TOMBSTONES_ARROW_SCHEMA, format="parquet")
           .to_table()["doc_id"].to_numpy()
           for g, p in _tombstone_dirs(index_dir, gens).items()}
    empty = [np.empty(0, np.int64)]
    return (np.concatenate(empty + list(ids.values())),
            np.concatenate(empty + [np.full(len(v), g, np.int64)
                                    for g, v in ids.items()]))
