"""more_like_this semantics on a hand-built corpus: term selection by
tf·idf with deterministic tie-break, seed self-exclusion, rank order."""

from __future__ import annotations

from pyspark.sql import functions as F

from mee_spark.postings import build_postings
from mee_spark.query import more_like_this


def _docs(spark, rows):
    return spark.createDataFrame(
        [(i, t.split()) for i, t in rows],
        "doc_id long, tokens array<string>",
    ).withColumn("dl", F.size("tokens").cast("long"))


def test_mlt_excludes_seed_and_ranks_by_shared_rare_terms(spark):
    # doc 1 (seed): rare terms "zebra quark"; doc 2 shares both, doc 3
    # shares one, doc 4 only the stop-word "the" (low idf, still in the
    # seed's top-5 because the seed has only 3 distinct terms)
    docs = _docs(spark, [
        (1, "zebra quark the"),
        (2, "zebra quark the filler words here"),
        (3, "zebra common words everywhere now"),
        (4, "the the the other stuff"),
        (5, "nothing shared at all"),
    ])
    seeds = spark.createDataFrame([(0, 1)], "seed_id int, doc_id long")
    out = more_like_this(build_postings(docs), seeds,
                         n_docs=5, avgdl=4.6, m=5, k=10)
    rows = out.orderBy("rank").collect()
    ranked_docs = [r.doc_id for r in rows]
    assert 1 not in ranked_docs          # seed never ranks itself
    assert ranked_docs[0] == 2           # shares both rare terms
    assert set(ranked_docs) == {2, 3, 4}  # doc 5 matches nothing
    assert [r.rank for r in rows] == [1, 2, 3]


def test_mlt_term_cap_m_limits_query(spark):
    # m=1 keeps only the top tf-idf term; with equal tf everywhere the
    # rarest term wins, and docs lacking it never rank
    docs = _docs(spark, [
        (1, "rare shared shared"),   # seed: tf(shared)=2 > tf(rare)=1
        (2, "rare alone"),
        (3, "shared alone"),
    ])
    seeds = spark.createDataFrame([(0, 1)], "seed_id int, doc_id long")
    out = more_like_this(build_postings(docs), seeds,
                         n_docs=3, avgdl=2.33, m=1, k=10)
    # tf*idf: shared -> 2*idf(df=2), rare -> 1*idf(df=2): "shared" wins
    assert {r.doc_id for r in out.collect()} == {3}


def test_bool_excluded_doc_promotes_lower_ranks(spark):
    from mee_spark.query import bm25_topk_boolean

    # all docs contain "q"; doc 1 scores highest (tf) but carries the
    # banned term, so doc 2 must take rank 1 and doc 3 must enter the
    # k=2 result that doc 1's exclusion frees up
    docs = _docs(spark, [
        (1, "q q q q ban"),
        (2, "q q q filler pad"),
        (3, "q q x filler pad"),
        (4, "q x y filler pad"),
    ])
    queries = spark.createDataFrame(
        [(0, "q", "ban", 2)],
        "query_id int, query_text string, not_text string, k int")
    out = bm25_topk_boolean(build_postings(docs), queries,
                            n_docs=4, avgdl=5.0)
    rows = sorted((r.rank, r.doc_id) for r in out.collect())
    assert rows == [(1, 2), (2, 3)]


def test_bool_empty_not_text_is_plain_conjunctive(spark):
    from mee_spark.query import bm25_topk_boolean, bm25_topk_exhaustive

    docs = _docs(spark, [(1, "a b c"), (2, "a b"), (3, "a x y")])
    p = build_postings(docs)
    bq = spark.createDataFrame(
        [(0, "a b", "", 10)],
        "query_id int, query_text string, not_text string, k int")
    cq = spark.createDataFrame(
        [(0, "a b", 10)], "query_id int, query_text string, k int")
    got = sorted((r.rank, r.doc_id, r.score)
                 for r in bm25_topk_boolean(p, bq, 3, 2.67).collect())
    want = sorted((r.rank, r.doc_id, r.score)
                  for r in bm25_topk_exhaustive(p, cq, 3, 2.67,
                                                conjunctive=True).collect())
    assert got == want


def test_fuzzy_expands_within_distance_one_only(spark):
    from mee_spark.query import fuzzy_expand_terms

    docs = _docs(spark, [(1, "spark sparks spa table stark")])
    qt = spark.createDataFrame(
        [(0, 10, "spak")], "query_id int, k int, term string")
    out = fuzzy_expand_terms(build_postings(docs), qt, max_dist=1)
    # spark (del r->spak? spak+r) d=1; spa d=1; sparks d=2; table d>1;
    # stark d=2 (s->s? spak->stark needs 2)
    assert {r.term for r in out.collect()} == {"spark", "spa"}


def test_fuzzy_symspell_equals_scan_expansion(spark):
    """The deletion-key join must return EXACTLY the dictionary-scan
    expansion (it is the scale path bm25_topk_fuzzy actually uses):
    substitutions, inserts, deletes, same-term hits, and distance-2
    near-misses that collide in the delete-key space but must be pruned
    by the verify."""
    from mee_spark.query import fuzzy_expand_terms, fuzzy_expand_terms_symspell

    docs = _docs(spark, [
        (1, "spark sparks spa table stark shark spork park s a ab")])
    p = build_postings(docs)
    qt = spark.createDataFrame(
        [(0, 10, "spak"), (1, 5, "spark"), (2, 5, "b"), (3, 5, "zzz")],
        "query_id int, k int, term string")
    want = sorted((r.query_id, r.k, r.term)
                  for r in fuzzy_expand_terms(p, qt, 1).collect())
    got = sorted((r.query_id, r.k, r.term)
                 for r in fuzzy_expand_terms_symspell(p, qt, 1).collect())
    assert got == want and want  # non-vacuous
    # "stark"/"shark" are distance 2 from "spak": delete-key collisions
    # ("sak"? no — "sark" via st→s vs sp→s) must not leak through
    assert ("0", "stark") not in {(str(q), t) for q, _, t in got}


def test_fuzzy_symspell_plan_has_no_nested_loop(spark):
    """The symspell path must be a hash join on delete keys — the scan
    form's BroadcastNestedLoopJoin (every dict term x every query term)
    is exactly what it exists to replace."""
    from mee_spark.query import fuzzy_expand_terms, fuzzy_expand_terms_symspell

    docs = _docs(spark, [(1, "alpha beta gamma delta")])
    p = build_postings(docs)
    qt = spark.createDataFrame(
        [(0, 10, "alpa")], "query_id int, k int, term string")
    sym_plan = (fuzzy_expand_terms_symspell(p, qt, 1)
                ._jdf.queryExecution().executedPlan().toString())
    scan_plan = (fuzzy_expand_terms(p, qt, 1)
                 ._jdf.queryExecution().executedPlan().toString())
    assert "BroadcastNestedLoopJoin" not in sym_plan
    assert "BroadcastHashJoin" in sym_plan
    assert "BroadcastNestedLoopJoin" in scan_plan  # the contrast is real


def test_fuzzy_oov_query_matches_nothing(spark):
    from mee_spark.query import bm25_topk_fuzzy

    docs = _docs(spark, [(1, "alpha beta gamma")])
    q = spark.createDataFrame(
        [(0, "zzzzzz", 10)], "query_id int, query_text string, k int")
    assert bm25_topk_fuzzy(build_postings(docs), q, 1, 3.0).count() == 0


def test_search_after_page_continues_full_ranking(spark):
    from mee_spark.query import bm25_search_after, bm25_topk_exhaustive

    docs = _docs(spark, [
        (i, "q " + "pad " * i) for i in range(1, 12)
    ])
    p = build_postings(docs)
    queries = spark.createDataFrame(
        [(0, "q")], "query_id int, query_text string")
    full = bm25_topk_exhaustive(
        p, queries.withColumn("k", F.lit(100)), 11, 12.0)
    page = bm25_search_after(p, queries, 11, 12.0, after_rank=3, k=4)
    want = [(r.rank - 3, r.doc_id, r.score)
            for r in full.collect() if 4 <= r.rank <= 7]
    got = [(r.page_rank, r.doc_id, r.score)
           for r in page.orderBy("page_rank").collect()]
    assert got == sorted(want)
