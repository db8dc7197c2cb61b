"""Incremental segment builds ≡ full rebuild (mee sync semantics reframed;
SURVEY.md §5.2 item 5). Compared by URL since docID assignment differs
between an incremental chain and a fresh full build."""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys
import uuid

import numpy as np
import pandas as pd
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from mee_spark import manifest as mf
from mee_spark.build import (
    build_full_index,
    build_incremental,
    live_docmap,
    read_tombstones,
)
from mee_spark.config import IndexConfig
from mee_spark.fixtures import (
    PAGES_SCHEMA,
    QUERIES_SCHEMA,
    gen_pages_for_indices,
    gen_queries,
    gen_queries_pandas,
)
from mee_spark.oracle import OracleIndex
from mee_spark.query_wand import bm25_topk_wand
from mee_spark.segments import read_segments
from snapshots import gen_snapshots_pandas

CFG = IndexConfig(num_doc_partitions=4, num_term_buckets=8,
                  doc_range_size=64, block_size=16)
N_BASE = 200
N_QUERIES = 30
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="module")
def snaps(spark):
    return {g: spark.createDataFrame(pdf, PAGES_SCHEMA)
            for g, pdf in gen_snapshots_pandas(N_BASE).items()}


def ranked_by_url(spark, index_dir, queries, gens):
    docmap = live_docmap(spark, index_dir, gens)
    id_to_url = {r["doc_id"]: r["url"] for r in docmap.collect()}
    res = bm25_topk_wand(spark, index_dir, queries, CFG, round_digits=6)
    out = {}
    for r in res.collect():
        out.setdefault(r["query_id"], []).append(
            (r["rank"], id_to_url[r["doc_id"]], r["score"]))
    for v in out.values():
        v.sort()
    return out


def _plan_of(m: dict) -> str:
    return m["metrics"]["plan"]


def test_incremental_equals_full(spark, snaps, tmp_path_factory, each_plan):
    queries = gen_queries(spark, N_QUERIES)
    for incr_plan in each_plan():
        inc_dir = str(tmp_path_factory.mktemp("inc_index"))
        full_dir = str(tmp_path_factory.mktemp("full_index"))

        m1 = build_full_index(spark, snaps[1], CFG, inc_dir, gen=1)
        m2 = build_incremental(spark, snaps[2], CFG, inc_dir, gen=2)
        m3 = build_incremental(spark, snaps[3], CFG, inc_dir, gen=3)
        assert mf.current_gen(inc_dir) == 3
        assert {_plan_of(m2), _plan_of(m3)} == {incr_plan.split("_")[0]}
        assert m2["metrics"]["docs_added"] > 0 and m2["metrics"]["docs_changed"] > 0
        assert m3["metrics"]["docs_deleted"] > 0

        mf_full = build_full_index(spark, snaps[3], CFG, full_dir, gen=1)

        # live corpus stats agree exactly
        assert m3["n_docs_live"] == mf_full["n_docs_live"]
        assert m3["sum_dl_live"] == mf_full["sum_dl_live"]

        inc = ranked_by_url(spark, inc_dir, queries, [1, 2, 3])
        full = ranked_by_url(spark, full_dir, queries, [1])
        assert set(inc) == set(full)
        for qid in full:
            inc_l, full_l = inc[qid], full[qid]
            # scores must match rank-for-rank; urls must match except within
            # exact-score tie groups (docID order differs between chains)
            assert [s for _, _, s in inc_l] == [s for _, _, s in full_l], f"q{qid} scores"
            by_score_inc: dict[float, set] = {}
            by_score_full: dict[float, set] = {}
            for (_, u, s) in inc_l:
                by_score_inc.setdefault(s, set()).add(u)
            for (_, u, s) in full_l:
                by_score_full.setdefault(s, set()).add(u)
            for s in by_score_full:
                if len(by_score_full[s]) == len(by_score_inc.get(s, set())):
                    assert by_score_full[s] == by_score_inc[s], f"q{qid} tie group {s}"


def _gen_tables(d, gen):
    """``gen``'s docmap, tombstone and segment files, rows sorted by key."""
    g = mf.gen_dir(d, gen)
    out = {"docmap": pq.read_table(os.path.join(g, "docmap.parquet")).sort_by("url")}
    if os.path.isdir(os.path.join(g, "tombstones.parquet")):
        out["tombstones"] = pq.read_table(
            os.path.join(g, "tombstones.parquet")).sort_by("doc_id")
    for f in glob.glob(os.path.join(g, "segments", "bucket=*", "*.parquet")):
        out[os.path.relpath(f, g)] = pq.read_table(f).sort_by("term")
    return out


def test_layout_read_from_manifest(spark, snaps, tmp_path_factory):
    """The chain root's manifest is the one source of the layout. A cfg
    with other ``doc_range_size`` and ``num_term_buckets`` values queries,
    extends and compacts an index built with ``CFG`` exactly as ``CFG``
    does, and every new manifest records ``CFG``'s layout."""
    import dataclasses

    from mee_spark.config import layout_record
    from mee_spark.merge import compact

    other = dataclasses.replace(CFG, doc_range_size=CFG.doc_range_size * 2,
                                num_term_buckets=CFG.num_term_buckets * 2)
    queries = gen_queries(spark, 100)

    def rows(d, cfg):
        return sorted(tuple(r) for r in bm25_topk_wand(spark, d, queries, cfg).collect())

    tables = {}
    for cfg in (CFG, other):
        d = str(tmp_path_factory.mktemp("layout"))
        build_full_index(spark, snaps[1], CFG, d, gen=1)
        build_incremental(spark, snaps[2], cfg, d, gen=2)
        assert rows(d, other) == rows(d, CFG)  # a tombstone chain
        compact(spark, d, cfg, new_gen=3)
        assert rows(d, other) == rows(d, CFG)  # a single generation
        for g in (1, 2, 3):
            assert mf.read_manifest(d, g)["config"] == layout_record(CFG)
        tables[cfg.doc_range_size] = {g: _gen_tables(d, g) for g in (2, 3)}
    want, got = tables[CFG.doc_range_size], tables[other.doc_range_size]
    for g in (2, 3):
        assert sorted(got[g]) == sorted(want[g])
        assert len(want[g]) > 2, "no segment files written"
        for name, table in want[g].items():
            assert got[g][name].equals(table), (g, name)


def test_incremental_unchanged_docs_not_reindexed(spark, snaps, tmp_path_factory):
    """Dependency pruning (mee J6 `handlerconfig.py:303-347`): only
    added/changed docs produce postings in the delta generation."""
    d = str(tmp_path_factory.mktemp("inc2"))
    build_full_index(spark, snaps[1], CFG, d, gen=1)
    m2 = build_incremental(spark, snaps[2], CFG, d, gen=2)
    n_delta = m2["metrics"]["docs_added"] + m2["metrics"]["docs_changed"]
    # the delta docmap holds exactly the touched docs
    n_rows = spark.read.parquet(f"{d}/gen=2/docmap.parquet").count()
    assert n_rows == n_delta
    assert n_delta < N_BASE // 2  # vastly fewer than a rebuild


def test_deleted_docs_disappear_from_results(spark, snaps, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("inc3"))
    build_full_index(spark, snaps[2], CFG, d, gen=1)
    build_incremental(spark, snaps[3], CFG, d, gen=2)
    live = {r["url"] for r in live_docmap(spark, d, [1, 2]).collect()}
    gone = set(snaps[2].select("url").toPandas()["url"]) - set(
        snaps[3].select("url").toPandas()["url"])
    assert gone and not (gone & live)
    queries = gen_queries(spark, N_QUERIES)
    res = bm25_topk_wand(spark, d, queries, CFG)
    docmap = live_docmap(spark, d, [1, 2])
    id_to_url = {r["doc_id"]: r["url"] for r in docmap.collect()}
    for r in res.collect():
        assert id_to_url[r["doc_id"]] not in gone


def test_docid_watermark_from_manifest(spark, snaps, tmp_path_factory,
                                      each_plan):
    """Every manifest carries next_doc_id (the fresh-ID watermark), so
    build_incremental appends without a max(doc_id) scan of the live
    docmap. IDs are monotone across the chain and never recycled, also
    across a compaction: a compaction keeps the tail's watermark, so the
    id of a deleted doc is never handed to a new url."""
    from mee_spark.merge import compact

    for incr_plan in each_plan():
        d = str(tmp_path_factory.mktemp("wmark"))
        m1 = build_full_index(spark, snaps[1], CFG, d, gen=1)
        # full build: watermark = number of assigned docs (ids are 0..n-1)
        n1 = spark.read.parquet(f"{d}/gen=1/docmap.parquet").count()
        assert m1["next_doc_id"] == n1

        m2 = build_incremental(spark, snaps[2], CFG, d, gen=2)
        added2 = m2["metrics"]["docs_added"]
        assert m2["next_doc_id"] == n1 + added2
        # every freshly assigned id in gen 2 sits at/above gen 1's watermark
        dm2 = spark.read.parquet(f"{d}/gen=2/docmap.parquet")
        fresh2 = dm2.filter(f"doc_id >= {n1}").count()
        assert fresh2 == added2
        assert dm2.agg({"doc_id": "max"}).collect()[0][0] == m2["next_doc_id"] - 1
        # no duplicate ids anywhere in the chain's union of fresh assignments
        ids1 = {r[0] for r in spark.read.parquet(f"{d}/gen=1/docmap.parquet")
                .select("doc_id").collect()}
        fresh_ids2 = {r[0] for r in dm2.filter(f"doc_id >= {n1}")
                      .select("doc_id").collect()}
        assert not (ids1 & fresh_ids2)

        # delete the highest-id doc, compact, then add one url: the new url
        # gets an id at or above the watermark, not the deleted doc's id
        top = dm2.orderBy(F.col("doc_id").desc()).first()
        assert top["doc_id"] == m2["next_doc_id"] - 1
        snap3 = snaps[2].filter(F.col("url") != top["url"])
        m3 = build_incremental(spark, snap3, CFG, d, gen=3)
        assert m3["metrics"]["docs_deleted"] == 1
        m4 = compact(spark, d, CFG, new_gen=4)
        fresh_url = "http://fresh.example/added-after-compaction"
        m5 = build_incremental(spark, snap3.unionByName(
            snaps[2].filter(F.col("url") == top["url"])
            .withColumn("url", F.lit(fresh_url))), CFG, d, gen=5)
        assert {_plan_of(m) for m in (m2, m3, m5)} == {incr_plan.split("_")[0]}
        assert m5["metrics"]["docs_added"] == 1
        new_id = spark.read.parquet(f"{d}/gen=5/docmap.parquet").filter(
            F.col("url") == fresh_url).first()["doc_id"]
        assert new_id > top["doc_id"], "a deleted doc's id was recycled"
        assert m4["next_doc_id"] == m3["next_doc_id"] <= new_id
        marks = [m["next_doc_id"] for m in (m1, m2, m3, m4, m5)]
        assert marks == sorted(marks) and marks[-1] == new_id + 1


def _text_snapshot(spark, state: dict[str, str]):
    return spark.createDataFrame(sorted(state.items()), "url string, text string")


@pytest.fixture(scope="module")
def dead_chain(spark, tmp_path_factory):
    """-> (index dir, live url -> text): a 4-generation chain. One url
    changes in gen 2 and again in gen 3, gen 4 only deletes another, and
    two terms (``ghostterm``, ``onlydead``) have postings only in
    tombstoned docs."""
    base = gen_pages_for_indices(range(N_BASE))
    state = dict(zip(base["url"], base["text"]))
    changed, deleted = sorted(state)[3], sorted(state)[10]
    original = state[changed]
    state[deleted] += " onlydead w000002"
    d = str(tmp_path_factory.mktemp("vplan"))
    build_full_index(spark, _text_snapshot(spark, state), CFG, d, gen=1,
                     use_html=False)
    state[changed] = original + " ghostterm w000000"
    build_incremental(spark, _text_snapshot(spark, state), CFG, d, gen=2,
                      use_html=False)
    state[changed] = original + " edit3 w000001"
    build_incremental(spark, _text_snapshot(spark, state), CFG, d, gen=3,
                      use_html=False)
    del state[deleted]
    m4 = build_incremental(spark, _text_snapshot(spark, state), CFG, d, gen=4,
                           use_html=False)
    assert (m4["metrics"]["docs_added"], m4["metrics"]["docs_changed"],
            m4["metrics"]["docs_deleted"]) == (0, 0, 1)
    return d, state


def _driver_plan(monkeypatch, on: bool) -> None:
    """Force the driver tombstone plan on (no limit) or off (no chain
    qualifies)."""
    from mee_spark import query_wand

    limit = 1 << 62 if on else -1
    monkeypatch.setattr(query_wand, "DRIVER_MAX_TOMBSTONES", limit)
    monkeypatch.setattr(query_wand, "DRIVER_MAX_DECODE_POSTINGS", limit)


def test_tombstone_chain_matches_oracle(spark, dead_chain, monkeypatch):
    """On a 4-generation chain WAND top-k equals ``OracleIndex`` over the
    live docs, on both sides of the driver-plan gate: the live df must
    mask superseded and deleted postings alike. The batch takes the
    distributed scoring plan (``test_driver_scoring_matches_spark`` holds
    the driver scoring plan to it)."""
    from mee_spark import query_wand

    monkeypatch.setattr(query_wand, "DRIVER_MAX_SCORE_POSTINGS", -1)
    d, state = dead_chain
    segs = read_segments(spark, d, [1, 2, 3, 4])
    assert segs.filter(F.col("term").isin("ghostterm", "onlydead")).count() == 2

    extra = ["ghostterm", "onlydead", "ghostterm w000000", "onlydead w000002",
             "edit3 w000001 w000000"]
    qpdf = pd.concat([gen_queries_pandas(N_QUERIES), pd.DataFrame(
        {"query_id": range(N_QUERIES, N_QUERIES + len(extra)),
         "query_text": extra, "k": 10})], ignore_index=True)
    queries = spark.createDataFrame(qpdf, QUERIES_SCHEMA)
    url_to_id = {r["url"]: r["doc_id"] for r in live_docmap(spark, d, [1, 2, 3, 4]).collect()}
    assert set(url_to_id) == set(state)
    oracle = OracleIndex.build([(url_to_id[u], t) for u, t in state.items()])
    for on in (True, False):
        with monkeypatch.context() as m:
            _driver_plan(m, on)
            a = bm25_topk_wand(spark, d, queries, CFG).collect()
        got: dict[int, list] = {}
        for r in sorted(a, key=lambda r: (r["query_id"], r["rank"])):
            got.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
        for q in qpdf.itertuples():
            want = sorted(((doc, round(s, 6)) for doc, s in oracle.score_all(q.query_text).items()),
                          key=lambda x: (-x[1], x[0]))[:q.k]
            have = got.get(q.query_id, [])
            assert [doc for doc, _ in have] == [doc for doc, _ in want], (on, q.query_text)
            assert all(abs(x - y) < 1.5e-6 for (_, x), (_, y) in zip(have, want)), (on, q.query_text)
        assert not got.get(N_QUERIES) and not got.get(N_QUERIES + 1), on


def test_driver_df_matches_live_df(spark, dead_chain):
    """The driver's live df (``segments.term_df`` with the chain's
    tombstones) equals the distributed ``live_df`` pass term by term,
    over every indexed term, and both equal the live docs' df: a term
    whose postings are all dead counts 0."""
    from collections import Counter

    import pyarrow.dataset as ds

    from mee_spark.build import read_tombstone_arrays
    from mee_spark.query_wand import live_df, tombstones_per_range
    from mee_spark.segments import term_df
    from mee_spark.textprep import py_tokenize

    d, state = dead_chain
    gens, buckets = [1, 2, 3, 4], list(range(CFG.num_term_buckets))
    terms = sorted(set(ds.dataset(_segment_files(d, gens), format="parquet")
                       .to_table(columns=["term"])["term"].to_pylist()))
    driver, postings = term_df(d, gens, terms, buckets,
                               read_tombstone_arrays(d, gens), CFG.doc_range_size)
    segs = read_segments(spark, d, gens).join(
        tombstones_per_range(spark, d, gens, CFG.doc_range_size), "range_id", "left")
    spark_df = {r["term"]: r["df"] for r in live_df(segs).collect()}
    assert driver == spark_df
    assert driver["ghostterm"] == driver["onlydead"] == 0
    live = Counter(t for text in state.values() for t in set(py_tokenize(text)))
    assert {t: n for t, n in driver.items() if n} == dict(live)
    # every term is queried: the postings are every row's, dead ones included
    assert postings == sum(int(pq.read_table(f, columns=["df_local"])["df_local"]
                               .to_numpy().sum()) for f in _segment_files(d, gens))


def _segment_files(index_dir: str, gens: list[int]) -> list[str]:
    return sorted(f for g in gens for f in glob.glob(
        os.path.join(mf.segments_dir(index_dir, g), "bucket=*", "*.parquet")))


def test_driver_plan_gate(dead_chain, monkeypatch):
    """Either limit alone sends a chain to the distributed plan: the
    tombstone count the manifests record, and the postings of the
    term-filtered rows in tombstoned docID ranges (the rows the driver
    would decode), counted before any doc-id blob is read."""
    import pyarrow.compute as pc
    import pyarrow.dataset as ds

    from mee_spark import query_wand
    from mee_spark.build import read_tombstone_arrays

    d, _ = dead_chain
    gens, buckets = [1, 2, 3, 4], list(range(CFG.num_term_buckets))
    chain = mf.manifest_chain(d)
    terms = ["ghostterm", "w000000", "w000001"]
    tomb_ids, _ = read_tombstone_arrays(d, gens)
    assert mf.tombstone_count(chain) == len(tomb_ids) > 0
    rows = ds.dataset(_segment_files(d, gens), format="parquet").to_table(
        columns=["range_id", "df_local"], filter=pc.field("term").isin(terms))
    dead = np.isin(rows["range_id"].to_numpy(), tomb_ids // CFG.doc_range_size)
    to_decode = int(rows["df_local"].to_numpy()[dead].sum())
    assert 0 < to_decode < int(rows["df_local"].to_numpy().sum())

    def plan(tombs: int, postings: int):
        monkeypatch.setattr(query_wand, "DRIVER_MAX_TOMBSTONES", tombs)
        monkeypatch.setattr(query_wand, "DRIVER_MAX_DECODE_POSTINGS", postings)
        return query_wand._driver_plan(mf.tombstone_count(chain), d, gens,
                                       terms, buckets, CFG.doc_range_size)

    (ids, _), df_map, postings = plan(len(tomb_ids), to_decode)
    assert len(ids) == len(tomb_ids) and df_map["ghostterm"] == 0
    assert postings == int(rows["df_local"].to_numpy().sum())
    assert plan(len(tomb_ids) - 1, to_decode) is None
    assert plan(len(tomb_ids), to_decode - 1) is None


@pytest.mark.parametrize("conjunctive", [False, True], ids=["or", "and"])
def test_driver_scoring_matches_spark(spark, dead_chain, monkeypatch, conjunctive):
    """On the 4-generation chain the driver scoring plan returns exactly
    the distributed plan's rows (ids, ranks, scores) for the 100-query
    pool plus queries of dead-only terms: it attaches each range's
    tombstones as the distributed plan's join does."""
    from test_index_e2e import scored_both_ways

    d, _ = dead_chain
    qpdf = gen_queries_pandas(100)
    extra = ["ghostterm", "onlydead w000002", "edit3 w000001 w000000"]
    qpdf = pd.concat([qpdf, pd.DataFrame(
        {"query_id": range(100, 100 + len(extra)), "query_text": extra, "k": 10})],
        ignore_index=True)
    driver, distributed = scored_both_ways(
        spark, monkeypatch, d, spark.createDataFrame(qpdf, QUERIES_SCHEMA), CFG,
        conjunctive=conjunctive)
    assert driver and driver == distributed
    if not conjunctive:  # AND: "onlydead" has no live doc
        assert {r[0] for r in driver} >= {101, 102}


def test_identical_snapshot_is_an_empty_delta(spark, snaps, tmp_path_factory,
                                              each_plan):
    """Re-submitting the published snapshot changes nothing: the delta
    generation has no added, changed or deleted docs, and the live
    corpus stats and docID watermark stay where they were."""
    for incr_plan in each_plan():
        d = str(tmp_path_factory.mktemp("same"))
        m1 = build_full_index(spark, snaps[1], CFG, d, gen=1)
        m2 = build_incremental(spark, snaps[1], CFG, d, gen=2)
        assert _plan_of(m2) == incr_plan.split("_")[0]
        assert (m2["metrics"]["docs_added"], m2["metrics"]["docs_changed"],
                m2["metrics"]["docs_deleted"]) == (0, 0, 0)
        assert m2["n_docs_live"] == m1["n_docs_live"]
        assert m2["sum_dl_live"] == m1["sum_dl_live"]
        assert m2["next_doc_id"] == m1["next_doc_id"]
        assert spark.read.parquet(f"{d}/gen=2/tombstones.parquet").count() == 0
        assert live_docmap(spark, d, [1, 2]).count() == m1["n_docs_live"]


def test_partial_batch_tombstones_only_changed(spark, snaps, tmp_path_factory,
                                               each_plan):
    """``partial=True`` (an upsert batch, not a snapshot): urls missing
    from the batch are not tombstoned, only changed docs are, and no
    transient staging file outlives a successful build."""
    for incr_plan in each_plan():
        d = str(tmp_path_factory.mktemp("partial"))
        build_full_index(spark, snaps[2], CFG, d, gen=1)
        m2 = build_incremental(spark, snaps[3], CFG, d, gen=2, partial=True)
        assert _plan_of(m2) == incr_plan.split("_")[0]
        assert m2["metrics"]["docs_deleted"] == 0
        tombs = spark.read.parquet(f"{d}/gen=2/tombstones.parquet").count()
        assert tombs == m2["metrics"]["docs_changed"]
        missing = set(snaps[2].select("url").toPandas()["url"]) - set(
            snaps[3].select("url").toPandas()["url"])
        live = {r["url"] for r in live_docmap(spark, d, [1, 2]).collect()}
        assert missing and missing <= live
        for g in (1, 2):
            left = set(os.listdir(mf.gen_dir(d, g)))
            assert not left & {"_diff_staging.parquet", "_docs_staging.parquet"}


def test_chain_reads_submit_no_spark_job(spark, snaps, tmp_path_factory):
    """The docmap and tombstone reads carry their schemas, so building
    the ``live_docmap``/``read_tombstones`` frames of a chain submits no
    Spark job (a schema-less parquet read runs a footer-inference job per
    generation)."""
    d = str(tmp_path_factory.mktemp("noinfer"))
    build_full_index(spark, snaps[1], CFG, d, gen=1)
    build_incremental(spark, snaps[2], CFG, d, gen=2)
    build_incremental(spark, snaps[3], CFG, d, gen=3)
    sc = spark.sparkContext
    group = f"chain-reads-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "live_docmap + read_tombstones plan building")
    try:
        live_docmap(spark, d, [1, 2, 3])
        read_tombstones(spark, d, [1, 2, 3])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


_RESUME_SCRIPT = r"""
import glob, json, os, sys, tempfile
sys.path[:0] = [sys.argv[1], os.path.join(sys.argv[1], "tests")]
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import SparkSession
import mee_spark.build as build
import mee_spark.segments as seg
from mee_spark.build import build_full_index, build_incremental
from mee_spark.config import IndexConfig
from mee_spark.fixtures import PAGES_SCHEMA
from snapshots import gen_snapshots_pandas

# the plan's gate limits, as the calling test forced them
for name, limit in json.loads(sys.argv[2]).items():
    setattr(build, name, limit)
orig = seg._make_writer

def failing(seg_root, ckpt_root, block_size):
    inner = orig(seg_root, ckpt_root, block_size)
    def wrap(key, pdf):
        # odd buckets die; groups of other tasks may finish and checkpoint
        if int(key[0]) % 2 == 1:
            raise RuntimeError("injected segment writer failure")
        return inner(key, pdf)
    return wrap

# local[2]: one attempt per task, so the injected failure fails the build
spark = (SparkSession.builder.master("local[2]")
         .config("spark.sql.shuffle.partitions", "8")
         .config("spark.ui.enabled", "false").getOrCreate())
spark.sparkContext.setLogLevel("OFF")
cfg = IndexConfig(num_doc_partitions=4, num_term_buckets=4,
                  doc_range_size=64, block_size=16)
snaps = {g: spark.createDataFrame(p, PAGES_SCHEMA)
         for g, p in gen_snapshots_pandas(200).items()}

def build(fail):
    d = tempfile.mkdtemp(prefix="ix_")
    build_full_index(spark, snaps[1], cfg, d, gen=1)
    failed = False
    if fail:
        seg._make_writer = failing
        try:
            build_incremental(spark, snaps[2], cfg, d, gen=2)
        except Exception:
            failed = True
        seg._make_writer = orig
    m = build_incremental(spark, snaps[2], cfg, d, gen=2, resume=True)
    return d, m, failed

def table(path, keys):
    return pq.read_table(path).sort_by([(k, "ascending") for k in keys])

def tables(d):
    g = os.path.join(d, "gen=2")
    out = {"docmap": table(os.path.join(g, "docmap.parquet"), ["url"]),
           "tombstones": table(os.path.join(g, "tombstones.parquet"), ["doc_id"])}
    for f in glob.glob(os.path.join(g, "segments", "bucket=*", "*.parquet")):
        out[os.path.relpath(f, g)] = table(f, ["term"])
    return out

def counts(m):
    keys = ("docs_added", "docs_changed", "docs_deleted")
    return [m["n_docs_live"], m["sum_dl_live"], m["next_doc_id"]] + [
        m["metrics"][k] for k in keys]

d_fail, m_fail, failed = build(True)
d_clean, m_clean, _ = build(False)
a, b = tables(d_fail), tables(d_clean)
print(json.dumps({
    "failed_first": failed,
    "files": sorted(a),
    "equal": sorted(a) == sorted(b) and all(a[k].equals(b[k]) for k in a),
    "counts": [counts(m_fail), counts(m_clean)],
    "plans": [m_fail["metrics"]["plan"], m_clean["metrics"]["plan"]],
    "leftover": sorted(glob.glob(os.path.join(d_fail, "gen=2", "_*staging*")))}))
spark.stop()
"""


def test_resume_after_segment_failure_equals_clean_build(each_plan):
    """A delta build whose segment writer fails, rerun with
    ``resume=True`` into the same generation, leaves the docmap,
    tombstones, segment files and manifest counts of a clean build: the
    rerun overwrites the leftover diff and staging files and keeps the
    checkpointed groups. The writer fails on the driver plan too: its
    groups go through the same ``_make_writer``."""
    from mee_spark import build

    for incr_plan in each_plan():
        limits = {k: getattr(build, k) for k in ("DRIVER_MAX_DOCMAP_ROWS",
                                                 "DRIVER_MAX_DELTA_TOKENS")}
        out = subprocess.run(
            [sys.executable, "-c", _RESUME_SCRIPT, REPO, json.dumps(limits)],
            capture_output=True, text=True, timeout=600,
            env=os.environ | {"PYTHONPATH": REPO})
        assert out.returncode == 0, out.stderr[-3000:]
        rec = json.loads([ln for ln in out.stdout.splitlines()
                          if ln.startswith("{")][-1])
        assert rec["failed_first"], "the injected failure did not fail the build"
        assert {"docmap", "tombstones"} < set(rec["files"])
        assert len(rec["files"]) > 2, "no segment files written"
        assert rec["equal"]
        assert rec["counts"][0] == rec["counts"][1]
        assert rec["plans"] == [incr_plan.split("_")[0]] * 2
        assert rec["leftover"] == []


def test_side_writes_keep_the_callers_job_group(spark, snaps, tmp_path_factory,
                                                each_plan):
    """``_concurrent`` runs side writes on ``InheritableThread``s: with a
    job group set, every job of ``build_incremental`` — the tombstone and
    docmap side writes of the Spark plans included — lands in that group,
    none outside it."""
    for incr_plan in each_plan():
        d = str(tmp_path_factory.mktemp("jobgroup"))
        build_full_index(spark, snaps[1], CFG, d, gen=1)
        tracker = spark.sparkContext.statusTracker()
        ungrouped = set(tracker.getJobIdsForGroup(None))
        m, jobs = _jobs_of(spark, lambda: build_incremental(
            spark, snaps[2], CFG, d, gen=2))
        assert _plan_of(m) == incr_plan.split("_")[0]
        assert set(tracker.getJobIdsForGroup(None)) == ungrouped
        assert jobs


def test_concurrent_surfaces_side_error_after_inline_write(spark):
    """``_concurrent``: a failing side write raises its own exception,
    and only once the inline write has finished; an inline failure still
    waits for every side write (a same-gen retry must never overlap a
    stale write of the same path). Its threads copy the active
    SparkContext's local properties when they start."""
    import threading
    import time

    from mee_spark.build import _concurrent

    class SideError(Exception):
        pass

    def side_fails():
        raise SideError("side")

    inline_done = threading.Event()

    def inline_slow():
        time.sleep(0.3)
        inline_done.set()
        return "inline"

    with pytest.raises(SideError):
        _concurrent(side_fails, inline_slow)
    assert inline_done.is_set()

    side_done = threading.Event()

    def side_slow():
        time.sleep(0.3)
        side_done.set()

    def inline_fails():
        raise ValueError("inline")

    with pytest.raises(ValueError, match="inline"):
        _concurrent(side_slow, inline_fails)
    assert side_done.is_set()
    assert _concurrent(lambda: None, lambda: 7) == 7


def _plan_chain(spark, d: str) -> list[dict]:
    """Builds a seven-generation chain -> the manifests of its six deltas: adds + changes, deletes, a partial batch, a text-only
    snapshot, an add-only snapshot and one holding urls twice."""
    def frame(pdf):
        return spark.createDataFrame(pdf.reset_index(drop=True), PAGES_SCHEMA)

    def edited(pdf, rows, tail):
        pdf = pdf.copy()
        for i in rows:
            pdf.loc[i, "text"] += tail
            pdf.loc[i, "html"] = bytes(pdf.loc[i, "html"]).replace(
                b"</p></body>", tail.encode() + b"</p></body>")
        return pdf

    snaps = gen_snapshots_pandas(N_BASE)
    build_full_index(spark, frame(snaps[1]), CFG, d, gen=1)
    out = [build_incremental(spark, frame(snaps[2]), CFG, d, gen=2),
           build_incremental(spark, frame(snaps[3]), CFG, d, gen=3)]
    live = snaps[3]
    extra = gen_pages_for_indices(range(1000, 1012))
    batch = pd.concat([edited(live.iloc[:4], range(4), " w000003 batchtail"),
                       extra.iloc[:2]], ignore_index=True)
    out.append(build_incremental(spark, frame(batch), CFG, d, gen=4,
                                 partial=True))
    live = pd.concat([live[~live["url"].isin(batch["url"])], batch],
                     ignore_index=True)
    # text only: the html column is not read, so only the text edits count
    text = edited(live, range(5, 7), " w000004 texttail").drop(index=[9, 10])
    text = pd.concat([text, extra.iloc[2:4]], ignore_index=True)
    out.append(build_incremental(spark, frame(text), CFG, d, gen=5,
                                 use_html=False))
    adds = pd.concat([text, extra.iloc[4:7]], ignore_index=True)
    out.append(build_incremental(spark, frame(adds), CFG, d, gen=6,
                                 use_html=False))
    # an unchanged url, a changed url and a new url, each held twice
    changed = edited(adds.iloc[[1]], [1], " w000005 dup")
    twice = pd.concat([adds.drop(index=1), adds.iloc[[0]], changed, changed,
                       extra.iloc[[7]], extra.iloc[[7]]])
    out.append(build_incremental(spark, frame(twice), CFG, d, gen=7,
                                 use_html=False))
    return out


_COUNTS = ("n_docs_live", "sum_dl_live", "next_doc_id")
_DELTA = ("docs_added", "docs_changed", "docs_deleted")


def test_plans_write_identical_generations(spark, tmp_path_factory, each_plan):
    """The driver plan and both Spark plans write the same docmap rows,
    tombstones and segment files, and the same manifest counts, for
    every kind of delta: adds, changes, deletes, a partial batch, a
    text-only snapshot, an add-only snapshot (no tombstone) and a
    snapshot holding urls twice."""
    got = {}
    for plan in each_plan():
        d = str(tmp_path_factory.mktemp(f"same_{plan}"))
        ms = _plan_chain(spark, d)
        assert {_plan_of(m) for m in ms} == {plan.split("_")[0]}
        got[plan] = [([m[k] for k in _COUNTS] + [m["metrics"][k] for k in _DELTA],
                      _gen_tables(d, m["generation"])) for m in ms]
    want = got.pop("driver")
    # (added, changed, deleted) per delta; a partial batch deletes nothing,
    # and a url held twice counts twice
    assert [tuple(c[-3:]) for c, _ in want] == [
        (10, 4, 0), (0, 0, 2), (2, 4, 0), (2, 2, 2), (3, 0, 0), (2, 2, 0)]
    assert want[4][1]["tombstones"].num_rows == 0
    for plan, gens in got.items():
        for g, ((c, t), (wc, wt)) in enumerate(zip(gens, want), start=2):
            assert c == wc, (plan, g)
            assert sorted(t) == sorted(wt), (plan, g)
            for k in wt:
                assert t[k].equals(wt[k]), (plan, g, k)


def _jobs_of(spark, build) -> tuple[dict, int]:
    """-> (``build()``'s manifest, the Spark jobs it ran: a job-group
    diff of the status tracker)."""
    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "one incremental build")
    try:
        m = build()
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    return m, len(sc.statusTracker().getJobIdsForGroup(group))


def test_incremental_jobs_per_plan(spark, snaps, tmp_path_factory, each_plan):
    """Below the gates the snapshot diff is the build's only Spark work,
    at most 2 jobs; the Spark tails' counts are pinned too."""
    for incr_plan in each_plan():
        d = str(tmp_path_factory.mktemp("jobs"))
        build_full_index(spark, snaps[1], CFG, d, gen=1)
        m, jobs = _jobs_of(spark, lambda: build_incremental(
            spark, snaps[2], CFG, d, gen=2))
        assert _plan_of(m) == incr_plan.split("_")[0]
        assert jobs <= 2 if incr_plan == "driver" else jobs == {
            "spark_tail": 13, "spark": 14}[incr_plan], jobs


def test_incremental_gate_edges(spark, snaps, tmp_path_factory, monkeypatch):
    """Each gate admits its limit: a chain whose manifests record exactly
    ``DRIVER_MAX_DOCMAP_ROWS`` docmap rows, with a delta of exactly
    ``DRIVER_MAX_DELTA_TOKENS`` token instances, is built on the driver;
    one below either limit, in Spark."""
    from mee_spark import build

    d = str(tmp_path_factory.mktemp("edges"))
    build_full_index(spark, snaps[1], CFG, d, gen=1)
    rows = mf.docmap_rows(mf.manifest_chain(d))
    gens = iter(range(2, 10))

    def plan(max_rows: int, max_tokens: int) -> tuple[str, int]:
        # unpublished: every build diffs the same one-generation chain
        monkeypatch.setattr(build, "DRIVER_MAX_DOCMAP_ROWS", max_rows)
        monkeypatch.setattr(build, "DRIVER_MAX_DELTA_TOKENS", max_tokens)
        g = next(gens)
        m = build_incremental(spark, snaps[2], CFG, d, gen=g, publish=False)
        # the delta's token instances: the dl of its docmap rows
        dl = pq.read_table(os.path.join(mf.gen_dir(d, g), "docmap.parquet"))
        return _plan_of(m), int(pc.sum(dl["dl"]).as_py())

    _, tokens = plan(1 << 40, 1 << 40)
    assert plan(rows, tokens) == ("driver", tokens)
    assert plan(rows, tokens - 1) == ("spark", tokens)
    assert plan(rows - 1, tokens) == ("spark", tokens)
    assert mf.current_gen(d) == 1
