"""Segment index end-to-end: build → WAND query ≡ oracle ≡ exhaustive;
resume-from-checkpoint; incremental ≡ full (SURVEY.md §5.2 items 3-6)."""

from __future__ import annotations

import dataclasses
import os
import uuid

import pandas as pd
import pytest

from mee_spark import manifest as mf
from mee_spark import query_wand
from mee_spark.build import build_full_index, live_docmap
from mee_spark.config import IndexConfig
from mee_spark.fixtures import QUERIES_SCHEMA, gen_pages, gen_queries, gen_queries_pandas
from mee_spark.oracle import OracleIndex
from mee_spark.postings import build_postings
from mee_spark.query import bm25_topk_exhaustive
from mee_spark.query_wand import bm25_topk_wand, query_vocab
from mee_spark.segments import with_partition_keys
from mee_spark.textprep import extract_text_bytes, py_tokenize
from reference_helpers import build_docs, corpus_stats

N_DOCS = 250
N_QUERIES = 100  # the whole pool: its first 40 queries have one term each
CFG = IndexConfig(num_doc_partitions=4, num_term_buckets=8,
                  doc_range_size=64, block_size=16)


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    index_dir = str(tmp_path_factory.mktemp("index"))
    pages = gen_pages(spark, N_DOCS, num_partitions=4)
    manifest = build_full_index(spark, pages, CFG, index_dir, gen=1)
    queries = gen_queries(spark, N_QUERIES)
    # the same corpus as an uncompressed postings relation, for the
    # exhaustive DataFrame engine
    docs = build_docs(pages, CFG)
    return dict(index_dir=index_dir, manifest=manifest, queries=queries, pages=pages,
                postings=build_postings(docs), stats=corpus_stats(docs))


def collect_ranked(df):
    out = {}
    for r in df.collect():
        out.setdefault(r["query_id"], []).append((r["rank"], r["doc_id"], r["score"]))
    for v in out.values():
        v.sort()
    return out


def test_manifest_published(built):
    assert mf.current_gen(built["index_dir"]) == 1
    m = built["manifest"]
    assert m["n_docs_live"] == N_DOCS
    assert m["metrics"]["docs_per_sec"] > 0
    assert len(m["metrics"]["partitions"]) > 0
    # segment files + checkpoints exist 1:1
    done = mf.completed_checkpoints(built["index_dir"], 1)
    assert len(done) == len(m["metrics"]["partitions"])


def _oracle(built, spark) -> OracleIndex:
    pages_rows = built["pages"].select("url", "html").collect()
    docmap = live_docmap(spark, built["index_dir"], [1])
    url_to_id = {r["url"]: r["doc_id"] for r in docmap.collect()}
    return OracleIndex.build(
        [(url_to_id[r["url"]], extract_text_bytes(bytes(r["html"]))) for r in pages_rows]
    )


def _jobs(spark, fn):
    """-> (fn(), ids of the Spark jobs it submitted)."""
    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "jobs per call")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def _distributed_scoring(monkeypatch) -> None:
    """Send every batch to the distributed scoring plan (no batch fits the
    driver scoring budget)."""
    monkeypatch.setattr(query_wand, "DRIVER_MAX_SCORE_POSTINGS", -1)


def scored_both_ways(spark, monkeypatch, index_dir, queries, cfg, **kw):
    """(driver-scored rows, Spark-scored rows) of one ``bm25_topk_wand``
    call, each sorted: the scoring budget forced past every batch, then
    to -1."""
    def rows(limit: int) -> list:
        with monkeypatch.context() as m:
            m.setattr(query_wand, "DRIVER_MAX_SCORE_POSTINGS", limit)
            return sorted(tuple(r) for r in bm25_topk_wand(
                spark, index_dir, queries, cfg, **kw).collect())

    return rows(1 << 62), rows(-1)


def test_wand_matches_oracle(built, spark, monkeypatch):
    """Rank identity (docIDs AND scores) vs the pure-Python oracle, on the
    distributed scoring plan (``test_driver_scoring_equals_spark`` holds
    the driver plan to it)."""
    _distributed_scoring(monkeypatch)
    oracle = _oracle(built, spark)
    res = collect_ranked(
        bm25_topk_wand(spark, built["index_dir"], built["queries"], CFG, round_digits=None)
    )
    for q in gen_queries_pandas(N_QUERIES).itertuples():
        want = oracle.topk(q.query_text, k=q.k)
        have = res.get(q.query_id, [])
        assert [d for _, d, _ in have] == [d for d, _ in want], f"q{q.query_id}"
        for (_, _, s_have), (_, s_want) in zip(have, want):
            assert s_have == pytest.approx(s_want, abs=1e-9)


def test_wand_equals_exhaustive_spark(built, spark, monkeypatch):
    """Block-max pruning is loss-free vs the declarative DataFrame path,
    on the distributed scoring plan."""
    _distributed_scoring(monkeypatch)
    stats = built["stats"]
    exh = collect_ranked(bm25_topk_exhaustive(
        built["postings"], built["queries"], stats["N"], stats["avgdl"], round_digits=6))
    wnd = collect_ranked(bm25_topk_wand(
        spark, built["index_dir"], built["queries"], CFG, round_digits=6))
    assert exh == wnd
    # force the pure block-max WAND path (no vectorized fast path): identical
    import dataclasses

    cfg_wand = dataclasses.replace(CFG, wand_min_postings=0)
    wnd2 = collect_ranked(bm25_topk_wand(
        spark, built["index_dir"], built["queries"], cfg_wand, round_digits=6))
    assert exh == wnd2


def test_resume_from_checkpoint(built, spark, tmp_path):
    """Kill-after-checkpoint simulation (SURVEY §5.2 item 6): a generation
    whose build lost one segment file + its checkpoint before publish,
    rebuilt with ``resume=True``, reproduces the identical index;
    completed partitions are skipped (their files untouched)."""
    import glob

    index_dir = str(tmp_path / "ix")
    build_full_index(spark, built["pages"], CFG, index_dir, gen=1, publish=False)
    seg_files = sorted(glob.glob(os.path.join(mf.segments_dir(index_dir, 1), "*", "*.parquet")))
    victim = seg_files[0]
    bucket = int(victim.split("bucket=")[1].split("/")[0])
    range_id = int(os.path.basename(victim).split("_")[1].split(".")[0])
    victim_bytes = open(victim, "rb").read()
    os.remove(victim)
    os.remove(os.path.join(mf.checkpoints_dir(index_dir, 1),
                           mf.checkpoint_name(bucket, range_id)))
    survivors = [f for f in seg_files if f != victim]
    mtimes_before = {f: os.path.getmtime(f) for f in survivors}

    build_full_index(spark, built["pages"], CFG, index_dir, gen=1, resume=True)
    # victim restored, survivors not rewritten
    assert open(victim, "rb").read() == victim_bytes
    assert {f: os.path.getmtime(f) for f in survivors} == mtimes_before
    res = bm25_topk_wand(spark, index_dir, built["queries"], CFG)
    assert collect_ranked(res) == collect_ranked(
        bm25_topk_wand(spark, built["index_dir"], built["queries"], CFG))


EDGE_QUERIES = [
    "w000001 w000001 w000002",       # a repeated term
    "W000001, w000003!! (W000002)",  # mixed case and punctuation
    "Café Ünïcode w000004 ÿ",        # non-ASCII text
    "!!! ... ---",                   # tokenizes to nothing
    "zzq1oov zzq2oov",               # every term out of vocabulary
]


def _oracle_topk(oracle: OracleIndex, text: str, k: int, conjunctive: bool):
    scores = oracle.score_all(text)
    if conjunctive:
        terms = set(py_tokenize(text))
        scores = {d: s for d, s in scores.items()
                  if all(d in oracle.postings.get(t, {}) for t in terms)}
    return sorted(scores.items(), key=lambda x: (-x[1], x[0]))[:k]


def test_wand_matches_oracle_with_edge_queries(built, spark):
    """Both engines (the driver-planned WAND path over the index and the
    exhaustive DataFrame plan over the fixture's postings) agree with the
    oracle, docIDs and unrounded scores, in both disjunctive and
    conjunctive modes, on the 100-query fixture pool plus edge queries
    (repeated terms, non-ASCII text, a text with no tokens, an all-OOV
    query). The whole pool is used because its first 40 queries have one
    term each, where AND is OR; some later ones rank differently under
    AND, so an engine that drops its AND filter fails here."""
    n_pool = 100
    qpdf = pd.concat([gen_queries_pandas(n_pool), pd.DataFrame(
        {"query_id": range(n_pool, n_pool + len(EDGE_QUERIES)),
         "query_text": EDGE_QUERIES, "k": 10})], ignore_index=True)
    queries = spark.createDataFrame(qpdf, QUERIES_SCHEMA)
    oracle = _oracle(built, spark)
    want = {conj: {q.query_id: _oracle_topk(oracle, q.query_text, q.k, conj)
                   for q in qpdf.itertuples()} for conj in (False, True)}
    assert any(want[True][qid] != want[False][qid] for qid in range(n_pool))

    stats = built["stats"]
    results = {}
    for conj in (False, True):
        results["wand", conj] = collect_ranked(bm25_topk_wand(
            spark, built["index_dir"], queries, CFG, round_digits=None,
            conjunctive=conj))
        results["exhaustive", conj] = collect_ranked(bm25_topk_exhaustive(
            built["postings"], queries, stats["N"], stats["avgdl"],
            round_digits=None, conjunctive=conj))
    for (engine, conj), res in results.items():
        for q in qpdf.itertuples():
            have = res.get(q.query_id, [])
            assert [d for _, d, _ in have] == [d for d, _ in want[conj][q.query_id]], (
                engine, conj, q.query_text)
            for (_, _, s_have), (_, s_want) in zip(have, want[conj][q.query_id]):
                assert s_have == pytest.approx(s_want, abs=1e-9)
    for text in ("w000001 w000001 w000002", "Café Ünïcode w000004 ÿ"):
        assert results["wand", False][qpdf.query_id[qpdf.query_text == text].iloc[0]]
    for qid in (n_pool + 3, n_pool + 4):
        assert all(qid not in res for res in results.values())


def test_query_vocab_of_edge_texts(built, spark):
    """The vocabulary probe: a null text has no row, a text that tokenizes
    to nothing an empty one, and tokens and buckets are the build's
    (``py_tokenize``'s tokens, ``with_partition_keys``' buckets). A call
    with null and out-of-vocabulary texts ranks only the other queries."""
    texts = [None, EDGE_QUERIES[3], EDGE_QUERIES[2], EDGE_QUERIES[4],
             "w000001 w000002"]
    qdf = spark.createDataFrame(
        [(i, t, 5) for i, t in enumerate(texts)],
        "query_id int, query_text string, k int")
    rows = {r["query_id"]: r for r in query_vocab(qdf, CFG.num_term_buckets)}
    assert sorted(rows) == [1, 2, 3, 4]
    assert rows[1]["terms"] == rows[1]["buckets"] == []
    for qid in (2, 3, 4):
        assert rows[qid]["terms"] == py_tokenize(texts[qid]) and rows[qid]["k"] == 5
        keyed = with_partition_keys(spark.createDataFrame(
            [(t, 0) for t in rows[qid]["terms"]], "term string, doc_id long"), CFG)
        assert rows[qid]["buckets"] == [r["bucket"] for r in keyed.collect()]
    ranked = collect_ranked(bm25_topk_wand(spark, built["index_dir"], qdf, CFG))
    assert 4 in ranked and not {0, 1, 3} & set(ranked)


def test_batch_past_2048_queries(built, spark):
    """A 2,100-query batch (the fixture pool repeated under fresh ids,
    created from pandas) gives every query the same rows as the
    100-query batch: the driver plans a batch of any size."""
    pool = gen_queries_pandas(100)  # query ids 0..99
    small = collect_ranked(bm25_topk_wand(
        spark, built["index_dir"], spark.createDataFrame(pool, QUERIES_SCHEMA), CFG))
    big_pdf = pd.concat([pool] * 21, ignore_index=True)
    big_pdf["query_id"] = range(len(big_pdf))
    big = collect_ranked(bm25_topk_wand(
        spark, built["index_dir"], spark.createDataFrame(big_pdf, QUERIES_SCHEMA), CFG))
    assert len(big_pdf) == 2100 and small
    for qid in big_pdf["query_id"]:
        assert big.get(qid) == small.get(qid % len(pool)), qid


def test_single_query_jobs_per_call(built, spark, tmp_path, monkeypatch):
    """On a fresh single-generation index the driver plans a query: the
    vocabulary probe of a pandas-created query frame, the df lookup and
    building the plan submit no Spark job. Below the scoring budget the
    driver scores the batch too, so the collect submits none either;
    above it (the budget forced to -1) it submits at most four (the
    scoring plan). An all-OOV or empty batch is answered without any job.
    A small tombstone chain is planned on the driver too: its collect
    submits no job below the budget and at most five above it."""
    qpdf = gen_queries_pandas(100)
    one = qpdf[qpdf["query_text"].str.split().str.len() == 3].iloc[[0]]
    single = spark.createDataFrame(one, QUERIES_SCHEMA)
    rows, jobs = _jobs(spark, lambda: query_vocab(single, CFG.num_term_buckets))
    assert len(rows) == 1 and len(rows[0]["terms"]) == 3 and jobs == []

    def call_jobs(index_dir: str) -> list:
        """Jobs of one call's collect; building its plan submits none."""
        plan, jobs = _jobs(spark, lambda: bm25_topk_wand(
            spark, index_dir, single, CFG))
        assert jobs == []
        res, jobs = _jobs(spark, plan.collect)
        assert res
        return jobs

    assert call_jobs(built["index_dir"]) == []
    with monkeypatch.context() as mp:
        _distributed_scoring(mp)
        jobs = call_jobs(built["index_dir"])
        assert 0 < len(jobs) <= 4, jobs

    oov = spark.createDataFrame(pd.DataFrame(
        {"query_id": [0, 1], "query_text": ["zzq1oov zzq2oov", "!!!"], "k": 10}),
        QUERIES_SCHEMA)
    for batch in (oov, single.limit(0)):
        res, jobs = _jobs(spark, lambda: bm25_topk_wand(
            spark, built["index_dir"], batch, CFG).collect())
        assert res == [] and jobs == []

    # a two-generation tombstone chain below the driver-plan gate: reading
    # the tombstones, the live df and building the plan submit no job
    from mee_spark.build import build_incremental
    from mee_spark.fixtures import PAGES_SCHEMA
    from snapshots import gen_snapshots_pandas

    snaps = gen_snapshots_pandas(100)
    d = str(tmp_path / "ix")
    build_full_index(spark, spark.createDataFrame(snaps[1], PAGES_SCHEMA), CFG, d, gen=1)
    m = build_incremental(spark, spark.createDataFrame(snaps[2], PAGES_SCHEMA), CFG, d, gen=2)
    assert m["metrics"]["docs_changed"] + m["metrics"]["docs_deleted"] > 0
    assert call_jobs(d) == []
    with monkeypatch.context() as mp:
        _distributed_scoring(mp)
        jobs = call_jobs(d)
        assert 0 < len(jobs) <= 5, jobs


@pytest.mark.parametrize("conjunctive", [False, True], ids=["or", "and"])
@pytest.mark.parametrize("round_digits", [6, None], ids=["round6", "unrounded"])
def test_driver_scoring_equals_spark(built, spark, monkeypatch, conjunctive,
                                     round_digits):
    """The driver scoring plan returns exactly the distributed plan's rows
    (ids, ranks and scores, bit for bit) for the 100-query pool."""
    driver, distributed = scored_both_ways(
        spark, monkeypatch, built["index_dir"], built["queries"], CFG,
        round_digits=round_digits, conjunctive=conjunctive)
    assert driver and driver == distributed


@pytest.mark.parametrize("wand_min_postings", [CFG.wand_min_postings, 0],
                         ids=["default", "wand"])
def test_score_group_shares_one_cursor_per_row(built, spark, monkeypatch,
                                               wand_min_postings):
    """One ``score_group`` call builds exactly one ``TermCursor`` per
    (term, gen) segment row with live postings (every row of a
    single-generation index), however many of the batch's queries hold
    the term, and leaves each at its first posting: with block-max WAND
    forced too, which walks copies."""
    built_cursors = []

    class CountedCursor(query_wand.TermCursor):
        def __init__(self, *args, **kwargs):
            super().__init__(*args, **kwargs)
            built_cursors.append(self)

    calls = []
    make_scorer = query_wand._make_scorer

    def counting_scorer(*args, **kwargs):
        score_group = make_scorer(*args, **kwargs)

        def counted(key, pdf):
            before = len(built_cursors)
            out = score_group(key, pdf)
            calls.append((pdf, built_cursors[before:]))
            return out
        return counted

    monkeypatch.setattr(query_wand, "TermCursor", CountedCursor)
    monkeypatch.setattr(query_wand, "_make_scorer", counting_scorer)
    cfg = dataclasses.replace(CFG, wand_min_postings=wand_min_postings)
    assert bm25_topk_wand(spark, built["index_dir"], built["queries"], cfg).collect()
    assert calls
    # the batch's queries share terms within a range
    assert any(pdf.duplicated(["term", "gen"]).any() for pdf, _ in calls)
    for pdf, cursors in calls:
        assert len(cursors) == len(pdf.drop_duplicates(["term", "gen"]))
        assert all(c.ptr == 0 for c in cursors)


@pytest.mark.parametrize("conjunctive", [False, True], ids=["or", "and"])
def test_driver_wand_equals_spark(built, spark, monkeypatch, conjunctive):
    """Block-max WAND forced on every (query, range) of the driver scoring
    plan (``wand_min_postings=0``; AND mode keeps the vectorized kernel)
    returns the Spark plan's rows for the 100-query pool: queries sharing
    a term walk copies of its one cursor, so none sees another's
    position."""
    cfg_wand = dataclasses.replace(CFG, wand_min_postings=0)
    with monkeypatch.context() as m:
        m.setattr(query_wand, "DRIVER_MAX_SCORE_POSTINGS", 1 << 62)
        driver = collect_ranked(bm25_topk_wand(
            spark, built["index_dir"], built["queries"], cfg_wand,
            conjunctive=conjunctive))
    _distributed_scoring(monkeypatch)
    distributed = collect_ranked(bm25_topk_wand(
        spark, built["index_dir"], built["queries"], CFG,
        conjunctive=conjunctive))
    assert driver and driver == distributed
