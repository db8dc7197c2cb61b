"""End-to-end slice: fixtures → docIDs → postings → exhaustive BM25 → oracle.

SURVEY.md §5.2 items 1–3 for the declarative path.
"""

from __future__ import annotations

import hashlib

import pytest

from mee_spark.config import IndexConfig
from mee_spark.docmap import assign_doc_ids
from mee_spark.fixtures import gen_pages, gen_pages_pandas, gen_queries_pandas
from mee_spark.oracle import OracleIndex
from mee_spark.postings import build_postings, term_df
from mee_spark.query import bm25_topk_exhaustive
from mee_spark.textprep import extract_text_bytes
from reference_helpers import build_docs, corpus_stats

N_DOCS = 300
N_QUERIES = 100  # the whole pool: its first 40 queries have one term each


@pytest.fixture(scope="module")
def corpus(spark):
    pages_pd = gen_pages_pandas(N_DOCS)
    pages = gen_pages(spark, N_DOCS, num_partitions=4).cache()
    cfg = IndexConfig(num_doc_partitions=4)
    docmap = assign_doc_ids(pages, cfg.num_doc_partitions)
    docs = build_docs(pages, cfg, docmap=docmap, use_html=True).cache()
    postings = build_postings(docs).cache()
    stats = corpus_stats(docs)
    url_to_id = {r["url"]: r["doc_id"] for r in docmap.collect()}
    oracle = OracleIndex.build(
        [(url_to_id[r.url], extract_text_bytes(r.html)) for r in pages_pd.itertuples()]
    )
    return dict(pages_pd=pages_pd, pages=pages, docs=docs, postings=postings,
                stats=stats, oracle=oracle, url_to_id=url_to_id)


def test_distributed_generation_matches_local(corpus, spark):
    """gen_pages (mapInPandas, partitioned) ≡ gen_pages_pandas (driver)."""
    got = {r["url"]: r["text"] for r in corpus["pages"].select("url", "text").collect()}
    want = dict(zip(corpus["pages_pd"]["url"], corpus["pages_pd"]["text"]))
    assert got == want


def test_extraction_byte_identical(corpus):
    """input_hint invariant: extracted text byte-identical per url."""
    for r in corpus["pages_pd"].itertuples():
        assert extract_text_bytes(bytes(r.html)) == r.text
    # golden-hash form: stable across runs
    h = hashlib.sha256(
        extract_text_bytes(bytes(corpus["pages_pd"]["html"][0])).encode()
    ).hexdigest()
    h2 = hashlib.sha256(corpus["pages_pd"]["text"][0].encode()).hexdigest()
    assert h == h2


def test_doc_ids_dense_sorted(corpus):
    ids = sorted(corpus["url_to_id"].values())
    assert ids == list(range(len(ids)))
    # dense rank of url ascending
    by_url = sorted(corpus["url_to_id"])
    assert [corpus["url_to_id"][u] for u in by_url] == list(range(len(by_url)))


def test_corpus_stats_match_oracle(corpus):
    assert corpus["stats"]["N"] == corpus["oracle"].n_docs
    assert corpus["stats"]["avgdl"] == pytest.approx(corpus["oracle"].avgdl, rel=1e-12)


def test_postings_match_oracle(corpus):
    rows = corpus["postings"].collect()
    got = {(r["term"], r["doc_id"]): (r["tf"], r["dl"]) for r in rows}
    want = {}
    for term, plist in corpus["oracle"].postings.items():
        for doc_id, tf in plist.items():
            want[(term, doc_id)] = (tf, corpus["oracle"].doclen[doc_id])
    assert got == want


def test_term_df_salted_agg(corpus):
    got = {r["term"]: r["df"] for r in term_df(corpus["postings"]).collect()}
    want = {t: len(p) for t, p in corpus["oracle"].postings.items()}
    assert got == want


def test_bm25_rank_identical_to_oracle(corpus, spark):
    queries_pd = gen_queries_pandas(N_QUERIES)
    queries = spark.createDataFrame(queries_pd)
    res = bm25_topk_exhaustive(
        corpus["postings"], queries, corpus["stats"]["N"], corpus["stats"]["avgdl"],
        round_digits=None,
    ).collect()
    got: dict[int, list] = {}
    for r in sorted(res, key=lambda r: (r["query_id"], r["rank"])):
        got.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
    for q in queries_pd.itertuples():
        want = corpus["oracle"].topk(q.query_text, k=q.k)
        have = got.get(q.query_id, [])
        assert [d for d, _ in have] == [d for d, _ in want], f"q{q.query_id} docs"
        for (_, s_have), (_, s_want) in zip(have, want):
            assert s_have == pytest.approx(s_want, abs=1e-9), f"q{q.query_id} score"
