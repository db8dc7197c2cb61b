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

The snapshot is diffed ONCE: one job extracts, hashes and tokenizes its
text (with each token's term bucket), joins it against the live docmap
and stages the rows (``_diff_staging.parquet``), so the extraction UDF
crosses the Python boundary once per refresh. A small delta on a small
chain (``fits_driver``, then the observed token count) is then built on
the driver with pyarrow and numpy — tombstones, docIDs, docmap and
segments, no further Spark job; a larger one continues in Spark from the
same staged diff. The manifest records ``metrics.plan``.

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
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq
from pyspark import InheritableThread
from pyspark.sql import Column, DataFrame, Observation, Row, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema

from mee_spark import manifest as mf
from mee_spark import segments
from mee_spark.config import IndexConfig, layout_record
from mee_spark.docmap import assign_doc_ids
from mee_spark.segments import (
    build_segments,
    groups_on_driver,
    live_mask,
    term_buckets,
    write_groups,
)
from mee_spark.textprep import extract_text, tokenize_col

DOCMAP_ARROW_SCHEMA = pa.schema([("url", pa.string()), ("doc_id", pa.int64()),
                                 ("dl", pa.int64()), ("text_hash", pa.int64())])
DOCMAP_SCHEMA = from_arrow_schema(DOCMAP_ARROW_SCHEMA)
TOMBSTONES_ARROW_SCHEMA = pa.schema([("doc_id", pa.int64())])
TOMBSTONES_SCHEMA = from_arrow_schema(TOMBSTONES_ARROW_SCHEMA)
DOCS_STAGING_SCHEMA = ("doc_id long, url string, tokens array<string>, "
                       "dl long, text_hash long")
# kind: added | changed | deleted | unchanged; upserts (added, changed)
# carry their tokens, dl and term buckets, added rows null old_*, the
# others only url, kind and old_*
DIFF_SCHEMA = ("url string, kind string, old_doc_id long, old_dl long, "
               "text_hash long, dl long, tokens array<string>, "
               "buckets array<bigint>")
# The gate of the driver plans of an incremental build and a compaction
# (``fits_driver``): the docmap rows the chain's manifests record. Each
# live docmap row raised the driver's peak by about 350 bytes in an
# incremental build (the chain's docmaps read and deduplicated, a deletion
# probe over the staged diff's urls; 131k-524k-row chains, local[4]): 2^19
# keep it near 0.18 GB. The probe now reads matched doc ids, which weigh
# less than urls. At 524k rows the driver plan still took less
# CPU (31 vs 39 CPU-s) and wall (17.5 vs 22.3 s) than the Spark plan.
DRIVER_MAX_DOCMAP_ROWS = 1 << 19
# The second gate of an incremental build, checked on the token instances
# its diff job observed: each raised the driver's peak by about 134 bytes
# (the staged tokens and buckets, the sorted token frame; 1M-2M tokens,
# local[4]), more than a decoded posting, as a token carries its term:
# 2^20 keep it near 0.14 GB.
DRIVER_MAX_DELTA_TOKENS = 1 << 20


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


def _write_table(table: pa.Table, path: str) -> None:
    """Write ``table`` on the driver, with no Spark job, replacing any
    earlier attempt's: one snappy file in the directory layout Spark's
    writer leaves, so Spark and pyarrow read both forms alike. Columns
    are plain-encoded: a docmap's urls and ids are all distinct, so a
    dictionary only adds a page. No Arrow schema in the footer: every
    reader passes the file's schema (``*_ARROW_SCHEMA``, ``*_SCHEMA``),
    and it weighs 200-400 bytes a file."""
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    pq.write_table(table, os.path.join(path, "part-00000.parquet"),
                   compression="snappy", use_dictionary=False,
                   store_schema=False)


def _write_docmap(docmap: DataFrame | pa.Table, path: str) -> None:
    """Write a generation's docmap rows, replacing any earlier attempt's.
    An Arrow table is written on the driver, in docID order."""
    columns = DOCMAP_ARROW_SCHEMA.names
    if isinstance(docmap, DataFrame):
        docmap.select(*columns).write.mode("overwrite").parquet(path)
    else:
        _write_table(docmap.select(columns).sort_by("doc_id"), path)


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


def fits_driver(chain: list[dict], *, decode: bool) -> bool:
    """Whether a driver plan over ``chain`` fits in driver memory, decided
    from its manifests alone, before any read: the docmap rows
    (``mf.docmap_rows``) and tombstones its generations wrote must fit
    the driver budgets (``DRIVER_MAX_DOCMAP_ROWS``,
    ``query_wand.DRIVER_MAX_TOMBSTONES``). With ``decode`` (a compaction decodes
    every posting) so must the postings its segment groups recorded
    (``query_wand.DRIVER_MAX_DECODE_POSTINGS``); a manifest that records
    no groups then counts as above it."""
    from mee_spark import query_wand  # it imports this module

    if (mf.docmap_rows(chain) > DRIVER_MAX_DOCMAP_ROWS
            or mf.tombstone_count(chain) > query_wand.DRIVER_MAX_TOMBSTONES):
        return False
    if not decode:
        return True
    groups = [m.get("metrics", {}).get("partitions") for m in chain]
    return all(g is not None for g in groups) and sum(
        int(p["n_postings"]) for g in groups for p in g
    ) <= query_wand.DRIVER_MAX_DECODE_POSTINGS


def _stage_diff(snapshot: DataFrame, use_html: bool, cfg: IndexConfig,
                old: DataFrame, driver_docmap: bool, partial: bool,
                gdir: str) -> tuple[DataFrame, Row]:
    """The one job that reads the snapshot: extract + hash + tokenize its
    text, join it against the live docmap ``old``, label each url and
    stage the rows (``_diff_staging.parquet``) -> (staged diff, observed
    upserts ``n``, their token instances ``s``, removed docs ``nr``
    and their Σdl ``sr``, changed docs ``nc``).

    ``old`` is a broadcast local relation when ``driver_docmap``: a left
    join then, and the unchanged urls are staged too, so that the live
    docs no staged row matched are the deletions. (A full outer join
    against the same relation labels them in the job itself but costs a
    shuffle, which adaptive execution runs as a job of its own: 3 jobs
    instead of 2 for the same CPU on a 2k-doc chain, local[4].)
    Otherwise a full outer join against the live docmap frame labels the
    deletions and unchanged rows are not staged. Tokens and buckets come
    from the JVM expressions every build and query uses (``tokenize_col``,
    ``term_buckets``), so the driver tail matches the index by
    construction."""
    kind = (F.when(F.col("old_doc_id").isNull(), "added")
            .when(F.col("text_hash").isNull(), "deleted")
            .when(F.col("text_hash") != F.col("old_hash"), "changed")
            .otherwise("unchanged"))
    dropped = ((["deleted"] if partial else [])
               + (["unchanged"] if partial or not driver_docmap else []))
    upsert = F.col("kind").isin("added", "changed")
    removed = F.col("kind").isin("changed", "deleted")
    diff = _hashed_text(snapshot, use_html, cfg.lang_filter).join(
        old.select("url", F.col("doc_id").alias("old_doc_id"),
                   F.col("dl").alias("old_dl"),
                   F.col("text_hash").alias("old_hash")),
        "url", "left" if driver_docmap else "full_outer").withColumn(
        "kind", kind)
    if dropped:
        diff = diff.filter(~F.col("kind").isin(*dropped))
    diff = diff.select(
        "url", "kind", "old_doc_id", "old_dl", "text_hash",
        F.when(upsert, tokenize_col(F.col("_text"))).alias("tokens")
    ).select("*", F.when(upsert, F.size("tokens").cast("long")).alias("dl"),
             term_buckets("tokens", cfg.num_term_buckets).alias("buckets"))
    return _stage(diff, gdir, "diff", DIFF_SCHEMA,
                  F.count_if(upsert).alias("n"),
                  F.sum(F.when(upsert, F.col("dl"))).alias("s"),
                  F.count_if(removed).alias("nr"),
                  F.sum(F.when(removed, F.col("old_dl"))).alias("sr"),
                  F.count_if(F.col("kind") == "changed").alias("nc"))


def _delta_in_spark(staged: DataFrame, gone: pa.Table | None, start_id: int,
                    cfg: IndexConfig, index_dir: str, gen: int, gdir: str,
                    resume: bool) -> tuple[DataFrame, Callable, int]:
    """The Spark tail of a delta: tombstones ∥ docID assignment + the
    docs staging, from the staged diff and the deletions the driver found
    (``gone``) -> (docmap frame, segment write, next_doc_id)."""
    kind = F.col("kind")
    tombs = staged.filter(kind.isin("changed", "deleted")).select(
        F.col("old_doc_id").alias("doc_id"))
    if gone is not None:
        tombs = tombs.unionByName(staged.sparkSession.createDataFrame(
            gone.select(["doc_id"]), TOMBSTONES_SCHEMA))
    upserts = staged.filter(kind.isin("added", "changed"))
    added_ids = assign_doc_ids(upserts.filter(kind == "added"),
                               cfg.num_doc_partitions, start_id=start_id)
    # changed urls keep their docID: no match in added_ids
    delta = upserts.join(added_ids, "url", "left").select(
        F.coalesce("doc_id", "old_doc_id").alias("doc_id"), "url", "tokens",
        "dl", "text_hash")
    docs, raw, s = _concurrent(
        lambda: tombs.write.mode("overwrite").parquet(
            _tombstones_path(index_dir, gen)),
        lambda: _stage_docs(delta, gdir))
    return (docs, functools.partial(build_segments, raw, cfg, index_dir, gen,
                                    resume=resume),
            # a delta that allocates nothing keeps the watermark
            max(start_id, int(s["m"]) + 1 if s["m"] is not None else 0))


def _delta_on_driver(diff: pa.Table, gone: pa.Table | None, start_id: int,
                     cfg: IndexConfig, index_dir: str, gen: int,
                     resume: bool) -> tuple[pa.Table, Callable, int]:
    """``_delta_in_spark`` on the driver, with no Spark job, from the
    staged diff's added, changed and deleted rows: the tombstones are
    written sorted, and an added url gets ``start_id`` + its dense rank
    among the added urls (``assign_doc_ids``' contract, a url staged twice
    included). The token instances go through ``write_groups`` as a pandas
    frame, each group through the Spark plan's ``_make_writer``."""
    kind = diff["kind"]
    _write_table(pa.table({"doc_id": np.sort(np.concatenate(
        [diff["old_doc_id"].filter(pc.is_in(kind, pa.array(
            ["changed", "deleted"]))).to_numpy()]
        + ([] if gone is None else [gone["doc_id"].to_numpy()])))}),
        _tombstones_path(index_dir, gen))
    added = pc.equal(kind, "added")
    fresh, rank = np.unique(diff["url"].filter(added).to_numpy(),
                            return_inverse=True)
    doc_id = np.array(pc.fill_null(diff["old_doc_id"], -1).to_numpy())
    doc_id[added.to_numpy()] = start_id + rank
    # only upserts have tokens: no other row reaches the postings
    lens = pc.fill_null(pc.list_value_length(diff["tokens"]), 0).to_numpy()
    docs = np.repeat(doc_id, lens)
    bucket = pc.list_flatten(diff["buckets"]).to_numpy()
    range_id = docs // cfg.doc_range_size
    # in (bucket, range) order, so the driver's group loop slices the
    # frame instead of sorting a copy of it
    order = np.lexsort((range_id, bucket))
    postings = pd.DataFrame({
        # Arrow-backed: a Python str per token would outweigh the rest
        "term": pc.list_flatten(diff["tokens"]).take(order).to_pandas(
            types_mapper=pd.ArrowDtype),
        "doc_id": docs[order],
        "dl": np.repeat(pc.fill_null(diff["dl"], 0).to_numpy(), lens)[order],
        "bucket": bucket[order], "range_id": range_id[order]})
    docmap = pa.table({"url": diff["url"], "doc_id": doc_id, "dl": diff["dl"],
                       "text_hash": diff["text_hash"]}).filter(
        pc.is_in(kind, pa.array(["added", "changed"])))

    def run(keyed: pd.DataFrame, seg_root: str, ckpt_root: str) -> pd.DataFrame:
        return groups_on_driver(keyed, segments._make_writer(
            seg_root, ckpt_root, cfg.block_size))

    return (docmap, functools.partial(write_groups, postings, index_dir, gen,
                                      resume, run),
            start_id + len(fresh))


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

    One Spark job diffs the snapshot (``_stage_diff``). A small delta on
    a small chain is then built on the driver, with no further job
    (``_delta_on_driver``); the manifest records the plan taken,
    ``metrics.plan`` = "driver" or "spark".
    """
    # the layout (range size, term buckets) is the chain's, not the caller's
    chain, cfg = mf.open_chain(index_dir, cfg)
    gens = [m["generation"] for m in chain]
    tail = chain[-1]
    # the first gate, from the manifests: the live docmap fits the driver
    driver_docmap = fits_driver(chain, decode=False)

    def stage(gdir: str) -> Generation:
        # The snapshot is read by the diff job only; both tails read its
        # staging. Corpus stats delta (exact): N' = N + added − removed;
        # Σdl' likewise, replacing changed docs' old dl with the new one.
        live = live_docmap_table(index_dir, gens) if driver_docmap else None
        old = (live_docmap(spark, index_dir, gens) if live is None else
               F.broadcast(spark.createDataFrame(live, DOCMAP_SCHEMA)))
        staged, d = _stage_diff(new_snapshot, use_html, cfg, old,
                                live is not None, partial, gdir)
        n_delta, n_changed = int(d["n"]), int(d["nc"])
        n_removed, dl_removed = int(d["nr"]), int(d["sr"] or 0)
        # the second gate: the delta's token instances fit the driver
        on_driver = (live is not None
                     and int(d["s"] or 0) <= DRIVER_MAX_DELTA_TOKENS)
        staging = ds.dataset(os.path.join(gdir, "_diff_staging.parquet"),
                             format="parquet")
        gone = None  # live docs the snapshot no longer holds
        if live is not None and not partial:
            # a staged row with an old doc id matched a live doc, so the
            # probe holds at most the live docs however large the snapshot
            matched = staging.to_table(columns=["old_doc_id"],
                                       filter=pc.field("old_doc_id").is_valid())
            gone = live.filter(pc.invert(pc.is_in(
                live["doc_id"], value_set=matched["old_doc_id"])))
            n_removed += gone.num_rows
            dl_removed += int(pc.sum(gone["dl"]).as_py() or 0)
        # fresh docIDs start at the chain tail's watermark: ids are never
        # recycled, even after mass deletions and compactions
        start_id = int(tail["next_doc_id"])
        docmap, write_segments, next_doc_id = (
            _delta_on_driver(staging.to_table(
                filter=pc.field("kind") != "unchanged"), gone, start_id, cfg,
                index_dir, gen, resume)
            if on_driver else
            _delta_in_spark(staged, gone, start_id, cfg, index_dir, gen, gdir,
                            resume))
        return Generation(
            docmap=docmap, segments=write_segments, n_docs=n_delta,
            # changed docs: removed old and re-added -> net N counts them once
            n_docs_live=tail["n_docs_live"] + n_delta - n_removed,
            sum_dl_live=tail["sum_dl_live"] + int(d["s"] or 0) - dl_removed,
            next_doc_id=next_doc_id,
            metrics={"plan": "driver" if on_driver else "spark",
                     "docs_added": n_delta - n_changed,
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
    # newest gen first: a gen's rows lose the urls a newer gen holds (a
    # probe of the newer gens' urls, usually a few deltas', not a join of
    # the whole chain on url)
    parts, newer = [], []
    for g in reversed(gens):
        t = ds.dataset(_docmap_path(index_dir, g), schema=DOCMAP_ARROW_SCHEMA,
                       format="parquet").to_table()
        urls = t["url"].chunks
        if newer:
            t = t.filter(pc.invert(pc.is_in(
                t["url"], value_set=pa.concat_arrays(newer))))
        parts.append(t.append_column("gen", pa.array(
            np.full(t.num_rows, g, np.int64))))
        newer += urls
    dm = pa.concat_tables(parts)
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
