"""Driver contract for the spark-graft builder (PySpark target).

``entry`` runs the flagship BM25 pipeline at sf0.001; ``queries`` maps
every implemented operator (SURVEY.md §2 + the training-data pipeline
ops) to a (spark, sf_dir) callable; ``oracle_sql`` gives the DuckDB-
equivalent ANSI SQL for each — EVERY registered query has a value-level
oracle (including two Structured Streaming plans whose settled
memory-sink tables are batch-order invariant), and the end-to-end index
lifecycles:
``fulltext_lifecycle`` (full build → snapshot-diff incremental →
tombstoned multi-gen WAND) and ``fulltext_compacted`` (the same after
chain compaction) are hash-checked against DuckDB computing BM25
directly on the edited corpus. Column names/types are aligned pairwise —
the driver compares row-count + schema + order-insensitive value hash.
"""

from __future__ import annotations

import atexit
import shutil
import tempfile
from collections.abc import Callable

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mee_spark.fixtures import QUERIES_SCHEMA

# ---------------------------------------------------------------- helpers

# shared tokenizer (FIXTURES.md §4) in DuckDB form — identical to
# mee_spark.textprep.tokenize_col / py_tokenize for ASCII corpora
def _toks(col: str) -> str:
    return f"list_filter(regexp_split_to_array(lower({col}), '[^0-9a-z]+'), x -> x <> '')"


def _hash15(expr: str) -> str:
    return f"('0x' || substr(md5({expr}), 1, 15))::BIGINT"


def _knuth_u32_sql(col: str) -> str:
    """DuckDB form of mee_spark.textops._knuth_u32 — the multiply is
    split into 16-bit halves so no intermediate exceeds ~2^48: the naive
    ``id * 2654435761`` overflows int64 past id ~3.46e9, where DuckDB
    raises while non-ANSI Spark wraps. Value-identical to the naive
    product mod 2^32 for all ids below the overflow point."""
    u = f"({col}::BIGINT % 4294967296)"
    return (f"(((({u} // 65536) * 2654435761) % 65536) * 65536"
            f" + ({u} % 65536) * 2654435761) % 4294967296")


# the reference query set for the flagship BM25 query (fixed, tiny)
BM25_QUERIES = [
    (0, "spark query table", 10),
    (1, "merge join", 10),
    (2, "stream window batch", 10),
    (3, "customer order line", 10),
    (4, "the", 5),
    (5, "fast scan filter", 10),
    (6, "group sort key value hash", 10),
    (7, "nosuchterm xyzzy", 10),
]
ANN_PROBES = [0, 1, 2, 3, 4]


def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mee_spark.textprep import tokenize_col

    return (
        _read(spark, sf_dir, "documents")
        .select(F.col("doc_id").cast("long").alias("doc_id"), "text")
        .withColumn("tokens", tokenize_col(F.col("text")))
        .withColumn("dl", F.size("tokens").cast("long"))
    )


def _queries_df(spark: SparkSession, queries: list = BM25_QUERIES) -> DataFrame:
    """The (query_id, query_text, k) rows as a local relation built from
    an Arrow table (a list becomes an RDD scan), so the WAND vocabulary
    probe of a registered query runs no Spark job."""
    qid, text, k = zip(*queries)
    return spark.createDataFrame(pa.table({
        "query_id": pa.array(qid, pa.int32()), "query_text": text,
        "k": pa.array(k, pa.int32())}), QUERIES_SCHEMA)


def _temp_dir(prefix: str) -> str:
    """A fresh directory (an index, a stream's staged input) in the system
    temp dir, removed when the interpreter exits: the frames built on it
    read it lazily, so it must outlive the call that builds it."""
    path = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    return path


# ------------------------------------------------------------- fulltext

def q_fulltext_postings(spark, sf_dir):
    from mee_spark.postings import build_postings

    return build_postings(_docs(spark, sf_dir))


def q_fulltext_corpus_stats(spark, sf_dir):
    return _docs(spark, sf_dir).agg(
        F.count("*").cast("long").alias("n_docs"),
        F.round(F.avg("dl"), 6).alias("avgdl"),
    )


def q_fulltext_term_df(spark, sf_dir):
    from mee_spark.postings import build_postings, term_df

    return term_df(build_postings(_docs(spark, sf_dir)))


def q_fulltext_doclen(spark, sf_dir):
    return _docs(spark, sf_dir).select("doc_id", "dl")


def _wand_index(spark, sf_dir, prefix):
    """Full build (gen 1) of the documents table into a fresh temp index
    -> (index_dir, cfg). url = zero-padded doc_id: lexicographic url order
    == doc_id order, so the engine's dense-rank docIDs coincide with the
    table's ids."""
    from mee_spark.build import build_full_index
    from mee_spark.config import IndexConfig

    cfg = IndexConfig(num_doc_partitions=8, num_term_buckets=8,
                      doc_range_size=256, block_size=64)
    pages_like = _read(spark, sf_dir, "documents").select(
        F.format_string("%012d", F.col("doc_id")).alias("url"), "text")
    index_dir = _temp_dir(prefix)
    build_full_index(spark, pages_like, cfg, index_dir, gen=1, use_html=False)
    return index_dir, cfg


def _wand_query(spark, index_dir, cfg, gens, queries=BM25_QUERIES,
                conjunctive=False):
    """``bm25_topk_wand`` over the published index, its docIDs mapped back
    to the table's through the live docmap of ``gens``."""
    from mee_spark.build import live_docmap
    from mee_spark.query_wand import bm25_topk_wand

    res = bm25_topk_wand(spark, index_dir, _queries_df(spark, queries), cfg,
                         round_digits=6, conjunctive=conjunctive)
    docmap = live_docmap(spark, index_dir, gens).select(
        F.col("doc_id").alias("_engine_id"),
        F.col("url").cast("long").alias("orig_doc_id"))
    return (
        res.join(F.broadcast(docmap), res["doc_id"] == docmap["_engine_id"])
        .select("query_id", "rank", F.col("orig_doc_id").alias("doc_id"), "score")
    )


def q_fulltext_bm25_wand(spark, sf_dir):
    """The PRODUCTION path under the oracle gate: build compressed
    segments from the documents table, answer with block-max WAND, map
    docIDs back through the docmap. Same SQL oracle as the exhaustive
    path — segments+codec+WAND must reproduce textbook BM25 exactly."""
    return _wand_query(spark, *_wand_index(spark, sf_dir, "mee_wand_ix_"), [1])


# deterministic snapshot-2 edit rules shared by the Spark lifecycle query
# and its SQL oracle: delete doc_id%17==3, append a marker to doc_id%13==2,
# add a fresh url (id+1_000_000) derived from doc_id%29==5
_LC_DEL, _LC_CHG, _LC_ADD = 17, 13, 29
_LC_MARKER = " lifecycle marker tokens"
_LC_FRESH = " fresh page"
LIFECYCLE_QUERIES = BM25_QUERIES + [(8, "lifecycle marker fresh page", 10)]


def _build_lifecycle_index(spark, sf_dir):
    """Full build of snapshot-1 + snapshot-diff incremental build of
    snapshot-2 (edit rules above) into a temp index; -> (index_dir, cfg)."""
    from mee_spark.build import build_incremental

    docs = _read(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id"), "text")
    kept = docs.filter(F.col("doc_id") % _LC_DEL != 3)
    edited = kept.select(
        F.format_string("%012d", F.col("doc_id")).alias("url"),
        F.when(F.col("doc_id") % _LC_CHG == 2,
               F.concat(F.col("text"), F.lit(_LC_MARKER)))
        .otherwise(F.col("text")).alias("text"))
    added = docs.filter(F.col("doc_id") % _LC_ADD == 5).select(
        F.format_string("%012d", F.col("doc_id") + 1_000_000).alias("url"),
        F.concat(F.col("text"), F.lit(_LC_FRESH)).alias("text"))
    snap2 = edited.unionByName(added)

    index_dir, cfg = _wand_index(spark, sf_dir, "mee_lifecycle_ix_")
    build_incremental(spark, snap2, cfg, index_dir, gen=2, use_html=False)
    return index_dir, cfg


def q_fulltext_lifecycle(spark, sf_dir):
    """The INCREMENTAL lifecycle under the value-level oracle: full build
    of snapshot-1, snapshot-diff incremental build of snapshot-2 (deletes
    → tombstones, changed text → re-index keeping the docID, added urls →
    fresh docIDs), then BM25/WAND over the 2-generation chain — so
    last-writer-wins masking, the per-range tombstone join, and the
    live-df decode path are all hash-checked against DuckDB computing
    BM25 directly on the edited corpus. (This queries the chain WITH
    tombstones on purpose; fulltext_compacted gates the compacted form.)"""
    index_dir, cfg = _build_lifecycle_index(spark, sf_dir)
    return _wand_query(spark, index_dir, cfg, [1, 2], LIFECYCLE_QUERIES)


def q_fulltext_compacted(spark, sf_dir):
    """COMPACTION under the value-level oracle: the lifecycle chain is
    rewritten as one fresh generation (decode live postings across gens,
    drop tombstones, re-encode) and queried — the same oracle as
    fulltext_lifecycle, so compaction must be observationally invisible."""
    from mee_spark.merge import compact

    index_dir, cfg = _build_lifecycle_index(spark, sf_dir)
    compact(spark, index_dir, cfg, new_gen=3)
    return _wand_query(spark, index_dir, cfg, [3], LIFECYCLE_QUERIES)


def q_fulltext_wand_conjunctive(spark, sf_dir):
    """AND semantics on the PRODUCTION (segment/WAND) path: build real
    segments, rank only docs containing every query term — the posting
    intersection evaluated per docID range inside the Arrow scorer."""
    return _wand_query(spark, *_wand_index(spark, sf_dir, "mee_wandc_ix_"), [1],
                       conjunctive=True)


def _postings_with_stats(docs):
    """Postings with the corpus stats riding IN-PLAN (broadcast 1-row
    cross join) instead of a separate stats collect() — one Spark job
    per query instead of two; scores bit-identical (round 7, see
    bm25.idf_col)."""
    from mee_spark.postings import build_postings

    stats = docs.agg(F.count("*").cast("double").alias("_n_docs"),
                     F.avg("dl").alias("_avgdl"))
    return build_postings(docs).crossJoin(F.broadcast(stats))


def q_fulltext_bm25_topk(spark, sf_dir):
    from mee_spark.query import bm25_topk_exhaustive

    return bm25_topk_exhaustive(
        _postings_with_stats(_docs(spark, sf_dir)), _queries_df(spark),
        F.col("_n_docs"), F.col("_avgdl"), round_digits=6,
    )


def q_fulltext_bm25_conjunctive(spark, sf_dir):
    """AND semantics: only docs containing every query term rank."""
    from mee_spark.query import bm25_topk_exhaustive

    return bm25_topk_exhaustive(
        _postings_with_stats(_docs(spark, sf_dir)), _queries_df(spark),
        F.col("_n_docs"), F.col("_avgdl"), round_digits=6, conjunctive=True,
    )


# phrase / prefix query sets (fixed, tiny) — cover a duplicate-term
# phrase ("batch batch batch": each occurrence must vote for every
# index it could fill), a stop-word-leading phrase, and zero-hit cases
PHRASE_QUERIES = [
    (0, "order fast"), (1, "window join"), (2, "batch batch batch"),
    (3, "the fast key"), (4, "merge nosuchterm"),
]
PREFIX_QUERIES = [(0, "win"), (1, "mer"), (2, "zzqx")]


def _phrases_df(spark):
    from mee_spark.textprep import py_tokenize

    return spark.createDataFrame(
        [(pid, py_tokenize(p)) for pid, p in PHRASE_QUERIES],
        "phrase_id int, terms array<string>")


def q_fulltext_phrase_match(spark, sf_dir):
    """ES match_phrase semantics via the anchor join (mee_spark.phrase):
    exact consecutive-token occurrence counts per (phrase, doc)."""
    from mee_spark.phrase import phrase_match

    return phrase_match(_docs(spark, sf_dir), _phrases_df(spark))


def q_fulltext_phrase_topk(spark, sf_dir):
    from mee_spark.phrase import phrase_topk

    return phrase_topk(_docs(spark, sf_dir), _phrases_df(spark), k=10)


MLT_SEEDS = [(0, 1), (1, 42), (2, 7)]


FUZZY_QUERIES = [
    (0, "spak", 10),        # deletion of "spark"
    (1, "qury tble", 10),   # two typo terms in one query
    (2, "windoq", 5),       # substitution of "window"
    (3, "zzzzzzz", 10),     # nothing within distance 1
]


def q_fulltext_fuzzy(spark, sf_dir):
    """ES fuzziness=1: query terms expand through the index dictionary
    within edit distance 1, then standard BM25 over the expansion."""
    from mee_spark.postings import build_postings
    from mee_spark.query import bm25_topk_fuzzy

    docs = _docs(spark, sf_dir)
    stats = docs.agg(F.count("*").alias("n"), F.avg("dl").alias("a")).collect()[0]
    queries = spark.createDataFrame(
        FUZZY_QUERIES, "query_id int, query_text string, k int")
    return bm25_topk_fuzzy(build_postings(docs), queries,
                           int(stats["n"]), float(stats["a"]), max_dist=1)


def q_fulltext_search_after(spark, sf_dir):
    """ES search_after keyset pagination: the page of 10 hits strictly
    after each flagship query's rank-5 hit, via the (score, doc_id)
    keyset predicate rather than an offset."""
    from mee_spark.postings import build_postings
    from mee_spark.query import bm25_search_after

    docs = _docs(spark, sf_dir)
    stats = docs.agg(F.count("*").alias("n"), F.avg("dl").alias("a")).collect()[0]
    queries = spark.createDataFrame(
        [(q, t) for q, t, _ in BM25_QUERIES], "query_id int, query_text string")
    return bm25_search_after(build_postings(docs), queries,
                             int(stats["n"]), float(stats["a"]),
                             after_rank=5, k=10)


BOOL_QUERIES = [
    (0, "spark query", "merge", 10),
    (1, "order line", "customer", 10),
    (2, "the fast", "", 5),              # empty must_not -> conjunctive
    (3, "stream window", "nosuchterm", 10),
]


def q_fulltext_bool(spark, sf_dir):
    """ES bool query: AND-scored must terms, must_not exclusion, dense
    re-rank of the survivors."""
    from mee_spark.postings import build_postings
    from mee_spark.query import bm25_topk_boolean

    docs = _docs(spark, sf_dir)
    stats = docs.agg(F.count("*").alias("n"), F.avg("dl").alias("a")).collect()[0]
    queries = spark.createDataFrame(
        BOOL_QUERIES, "query_id int, query_text string, not_text string, k int")
    return bm25_topk_boolean(build_postings(docs), queries,
                             int(stats["n"]), float(stats["a"]))


def _qterms_df(spark):
    """Distinct (query_id, term) for the flagship query set."""
    from mee_spark.textprep import py_tokenize

    rows = [(q, t) for q, text, _ in BM25_QUERIES
            for t in sorted(set(py_tokenize(text)))]
    return spark.createDataFrame(rows, "query_id int, term string")


def q_fulltext_topk_snippets(spark, sf_dir):
    """The search-results page: BM25 top-k per query, each hit carrying
    an ES-highlighter-style snippet (±3 tokens around the first
    query-term occurrence). Snippets are built only for the retrieved
    docs — the top-k set is pinned with localCheckpoint and semi-joined
    back into the corpus, so at 100 TB the snippet pass touches k docs
    per query, not every match."""
    from mee_spark.phrase import first_hit_snippets
    from mee_spark.postings import build_postings
    from mee_spark.query import bm25_topk_exhaustive

    docs = _docs(spark, sf_dir)
    stats = docs.agg(F.count("*").alias("n"), F.avg("dl").alias("a")).collect()[0]
    res = bm25_topk_exhaustive(
        build_postings(docs), _queries_df(spark),
        int(stats["n"]), float(stats["a"]), round_digits=6,
    ).localCheckpoint(eager=False)
    hit_docs = docs.join(
        F.broadcast(res.select("doc_id").distinct()), "doc_id")
    snip = first_hit_snippets(hit_docs, _qterms_df(spark), window=3)
    return res.join(snip, ["query_id", "doc_id"]).select(
        "query_id", "rank", "doc_id", "score", "hit_pos", "snippet")


def q_fulltext_facets(spark, sf_dir):
    """ES terms-aggregation under a match query: per query, matching-doc
    counts bucketed by the documents table's lang column."""
    from mee_spark.phrase import facet_counts

    docs = _docs(spark, sf_dir)
    meta = _read(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id"), "lang")
    return facet_counts(meta, _qterms_df(spark), docs, "lang")


def q_fulltext_more_like_this(spark, sf_dir):
    """ES more-like-this: per seed doc, top-5 tf-idf terms → BM25 top-10
    over the corpus, seed excluded."""
    from mee_spark.postings import build_postings
    from mee_spark.query import more_like_this

    docs = _docs(spark, sf_dir)
    stats = docs.agg(F.count("*").alias("n"), F.avg("dl").alias("a")).collect()[0]
    seeds = spark.createDataFrame(MLT_SEEDS, "seed_id int, doc_id long")
    return more_like_this(build_postings(docs), seeds,
                          int(stats["n"]), float(stats["a"]), m=5, k=10)


def q_fulltext_prefix_match(spark, sf_dir):
    """ES prefix-query expansion: per-doc stats over index terms that
    start with each prefix."""
    from mee_spark.phrase import prefix_match
    from mee_spark.postings import build_postings

    prefixes = spark.createDataFrame(
        PREFIX_QUERIES, "prefix_id int, prefix string")
    return prefix_match(build_postings(_docs(spark, sf_dir)), prefixes)


_FULLTEXT_CTE = f"""
docs AS (SELECT doc_id, {_toks('text')} AS toks FROM documents),
tok AS (SELECT doc_id, unnest(toks) AS term FROM docs),
doclen AS (SELECT doc_id, len(toks)::BIGINT AS dl FROM docs),
postings AS (
  SELECT t.term, t.doc_id, count(*)::BIGINT AS tf, any_value(l.dl) AS dl
  FROM tok t JOIN doclen l USING (doc_id) GROUP BY 1, 2)
"""


def _phrase_cte() -> str:
    """Anchor-join phrase matching in DuckDB form — same diagonal
    construction as ``mee_spark.phrase.phrase_match``."""
    from mee_spark.textprep import py_tokenize

    vals = ", ".join(
        f"({pid}, {i}, '{t}')"
        for pid, p in PHRASE_QUERIES
        for i, t in enumerate(py_tokenize(p)))
    return f"""
docs AS (SELECT doc_id, {_toks('text')} AS toks FROM documents),
pos AS (SELECT doc_id, unnest(toks) AS term,
               generate_subscripts(toks, 1) - 1 AS p FROM docs),
pt(phrase_id, idx, term) AS (VALUES {vals}),
plen AS (SELECT phrase_id, count(*) AS n_terms FROM pt GROUP BY 1),
anchors AS (
  SELECT pt.phrase_id, pos.doc_id, pos.p - pt.idx AS anchor,
         count(DISTINCT pt.idx) AS hits
  FROM pos JOIN pt ON pos.term = pt.term
  WHERE pos.p >= pt.idx
  GROUP BY 1, 2, 3),
pmatch AS (
  SELECT a.phrase_id::INT AS phrase_id, a.doc_id,
         count(*)::BIGINT AS phrase_tf
  FROM anchors a JOIN plen USING (phrase_id)
  WHERE a.hits = plen.n_terms
  GROUP BY 1, 2)
"""


def _bm25_sql_over(corpus_sql: str, queries, conjunctive: bool = False) -> str:
    """Textbook BM25 top-k SQL over an arbitrary (doc_id, text) corpus
    expression — shared by the static corpus, the lifecycle oracles, and
    (with ``conjunctive``) the AND-semantics variant, where only docs
    matching EVERY query term rank."""
    vals = ", ".join(f"({q}, '{t}', {k})" for q, t, k in queries)
    conj_filter = ("JOIN qn USING (query_id) WHERE matched = n_terms"
                   if conjunctive else "")
    return f"""
WITH corpus AS ({corpus_sql}),
docs AS (SELECT doc_id, {_toks('text')} AS toks FROM corpus),
tok AS (SELECT doc_id, unnest(toks) AS term FROM docs),
doclen AS (SELECT doc_id, len(toks)::BIGINT AS dl FROM docs),
postings AS (
  SELECT t.term, t.doc_id, count(*)::BIGINT AS tf, any_value(l.dl) AS dl
  FROM tok t JOIN doclen l USING (doc_id) GROUP BY 1, 2),
qs(query_id, query_text, k) AS (VALUES {vals}),
qterms AS (SELECT DISTINCT query_id, k, unnest({_toks('query_text')}) AS term FROM qs),
qn AS (SELECT query_id, count(*)::BIGINT AS n_terms FROM qterms GROUP BY 1),
dfreq AS (SELECT term, count(*)::BIGINT AS df FROM postings
          WHERE term IN (SELECT term FROM qterms) GROUP BY 1),
stats AS (SELECT count(*)::BIGINT AS n, avg(dl) AS avgdl FROM doclen),
contrib AS (
  SELECT q.query_id, q.k, p.doc_id,
         ln(1.0 + (s.n - d.df + 0.5) / (d.df + 0.5))
         * (p.tf * (1.2 + 1.0)) / (p.tf + 1.2 * (1.0 - 0.75 + 0.75 * p.dl / s.avgdl)) AS c
  FROM postings p JOIN qterms q USING (term) JOIN dfreq d USING (term) CROSS JOIN stats s),
scored AS (SELECT query_id, k, doc_id, sum(c) AS score, count(*)::BIGINT AS matched
           FROM contrib GROUP BY 1, 2, 3),
ranked AS (SELECT query_id::INT AS query_id, doc_id, round(score, 6) AS score, k,
                  row_number() OVER (PARTITION BY query_id
                                     ORDER BY round(score, 6) DESC, doc_id) AS rank
           FROM scored {conj_filter})
SELECT query_id, rank, doc_id, score FROM ranked WHERE rank <= k
"""


_BM25_SQL = _bm25_sql_over("SELECT doc_id, text FROM documents", BM25_QUERIES)

# the lifecycle oracle computes BM25 DIRECTLY on the edited corpus — it has
# no notion of generations or tombstones; the engine must reach the same
# answer through its full build + snapshot-diff + masked multi-gen query
_LC_CORPUS_SQL = f"""
SELECT doc_id, CASE WHEN doc_id % {_LC_CHG} = 2 THEN text || '{_LC_MARKER}'
                    ELSE text END AS text
FROM documents WHERE doc_id % {_LC_DEL} <> 3
UNION ALL
SELECT doc_id + 1000000 AS doc_id, text || '{_LC_FRESH}' AS text
FROM documents WHERE doc_id % {_LC_ADD} = 5
"""

# ----------------------------------------------------------- text analysis

def q_text_token_stats(spark, sf_dir):
    from mee_spark.textops import token_stats

    return token_stats(_docs(spark, sf_dir))


def q_text_quality(spark, sf_dir):
    from mee_spark.textops import quality_scores

    return quality_scores(_docs(spark, sf_dir))


def q_text_langid(spark, sf_dir):
    from mee_spark.textops import langid

    return langid(_docs(spark, sf_dir))


def q_text_fingerprint(spark, sf_dir):
    from mee_spark.textops import fingerprint

    return fingerprint(_docs(spark, sf_dir))


def q_text_bpe_stats(spark, sf_dir):
    from mee_spark.textops import bpe_token_stats

    return bpe_token_stats(_read(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"))


from contextlib import contextmanager


@contextmanager
def _shuffle_partitions(spark, n: int):
    """Temporarily pin spark.sql.shuffle.partitions (streaming stateful
    operators create one state store per shuffle partition per
    micro-batch; the tiny staged streams need no wider state fan-out)."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def _pii_corpus(spark, sf_dir):
    """documents with deterministic synthetic PII appended (the raw
    corpus is PII-free word salad, so detection would be vacuously
    zero): emails on doc_id%13==4, IPv4 on %17==3, phones on %19==6 —
    the same expression the oracle builds in SQL."""
    d = _read(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id"), "text")
    sid = F.col("doc_id").cast("string")
    return d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 13 == 4,
                   F.concat(F.lit(" contact user"), sid,
                            F.lit("@example.com"))).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 17 == 3,
                   F.concat(F.lit(" from 10.0."),
                            (F.col("doc_id") % 256).cast("string"),
                            F.lit(".7"))).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 19 == 6,
                   F.concat(F.lit(" call +1-555-"),
                            F.format_string("%03d", F.col("doc_id") % 1000),
                            F.lit("-0199"))).otherwise(F.lit("")),
        ).alias("text"))


def q_text_pii(spark, sf_dir):
    from mee_spark.textops import pii_stats

    return pii_stats(_pii_corpus(spark, sf_dir))


def q_text_pii_redact(spark, sf_dir):
    from mee_spark.textops import pii_redact

    return pii_redact(_pii_corpus(spark, sf_dir))


def q_text_repetition(spark, sf_dir):
    from mee_spark.textops import repetition_stats

    return repetition_stats(_read(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"))


def q_text_winnow(spark, sf_dir):
    from mee_spark.textops import winnow_fingerprints

    return winnow_fingerprints(_read(spark, sf_dir, "documents"), k=8, window=4)


def q_text_source_stats(spark, sf_dir):
    """Per-source curation rollup (domain-level filtering): one shuffle,
    map-side combined, integer sums only."""
    from mee_spark.textops import source_stats

    return source_stats(_read(spark, sf_dir, "documents"))


def q_text_token_quantiles(spark, sf_dir):
    """Per-lang exact token-count quantiles (sequence-length budgeting);
    Spark percentile ≡ DuckDB quantile_cont (type-7 interpolation)."""
    from mee_spark.textops import token_quantiles

    return token_quantiles(_read(spark, sf_dir, "documents"))


def q_text_sample_stratified(spark, sf_dir):
    """Deterministic per-language sampling (training-mix rates): pure
    integer Knuth-hash filter, no shuffle, no RNG state — identical
    keep-set in any engine."""
    from mee_spark.textops import sample_hash_stratified

    return sample_hash_stratified(
        _read(spark, sf_dir, "documents"),
        rates={"en": 0.9, "de": 0.5, "zh": 0.25}, default_rate=0.1)


def q_text_pack_sequences(spark, sf_dir):
    """Concat-and-chunk sequence packing (budget 256 tokens, 8 shards):
    one bucket-keyed shuffle + in-partition window cumsum."""
    from mee_spark.textops import pack_sequences

    return pack_sequences(_read(spark, sf_dir, "documents"),
                          budget=256, n_buckets=8)


def q_text_vocab_topk(spark, sf_dir):
    """Top-20 tokens per language (vocab/stopword building): explode ->
    map-side-combined count -> window top-k over the counts table."""
    from mee_spark.textops import vocab_topk

    return vocab_topk(_read(spark, sf_dir, "documents"), k=20)


def q_dedup_decontaminate(spark, sf_dir):
    """Benchmark decontamination: the eval set is 103-of-corpus docs
    truncated to their first 40 tokens (verbatim leakage scenario);
    flag every training doc sharing an 8-gram with a probe."""
    from mee_spark.dedup import decontaminate
    from mee_spark.textprep import tokenize_col

    docs = _read(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id"), "text")
    probes = (docs.where(F.col("doc_id") % 97 == 11)
              .select(F.col("doc_id").alias("probe_id"),
                      F.array_join(
                          F.slice(tokenize_col(F.col("text")), 1, 40),
                          " ").alias("text")))
    return decontaminate(docs, probes, n=8)


def q_dedup_coverage(spark, sf_dir):
    """Per-doc duplicated-shingle coverage (excess-duplication signal):
    linear df-join-back, no pair enumeration."""
    from mee_spark.dedup import dup_shingle_coverage

    return dup_shingle_coverage(_read(spark, sf_dir, "documents"), n=3)


def q_dedup_winnow(spark, sf_dir):
    from mee_spark.textops import winnow_dup_pairs

    # max_fp_df=64 is the production hot-fingerprint cap (boilerplate
    # skew guard); the oracle SQL applies the IDENTICAL cap, so the
    # capped scale path itself is what's value-checked
    return winnow_dup_pairs(_read(spark, sf_dir, "documents"),
                            k=16, window=4, min_shared=5, max_fp_df=64)


def q_dedup_clusters(spark, sf_dir):
    """Connected components over the winnow near-dup pairs: the cluster
    assignment step a retention policy actually consumes (pairs alone
    leave transitive duplicates alive). cluster_id = min doc_id of the
    component; oracle = DuckDB recursive-CTE transitive closure over the
    IDENTICAL pair set."""
    from mee_spark.dedup import dup_connected_components
    from mee_spark.textops import winnow_dup_pairs

    pairs = winnow_dup_pairs(_read(spark, sf_dir, "documents"),
                             k=16, window=4, min_shared=5, max_fp_df=64)
    return dup_connected_components(pairs)


def q_pipeline_curate(spark, sf_dir):
    """The composed training-data curation pipeline: keep docs that are
    (a) the exact-dedup survivor of their fingerprint group, (b) predicted
    English, and (c) above the quality threshold — the canonical
    select-what-to-train-on flow, built purely from the oracled operators
    upstream (dedup_exact ∘ langid ∘ quality_scores)."""
    from mee_spark.dedup import dedup_exact
    from mee_spark.textops import langid, quality_scores

    docs = _read(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id"), "text")
    surv = dedup_exact(docs)
    q = quality_scores(docs).select("doc_id", "quality_ppm")
    lang = langid(docs).select("doc_id", "lang_pred")
    return (
        surv.join(q, "doc_id").join(lang, "doc_id")
        .filter((F.col("lang_pred") == "en") & (F.col("quality_ppm") >= 450_000))
        .select("doc_id", "n_dupes", "quality_ppm", "lang_pred")
    )


def _source_stats_sql() -> str:
    from mee_spark.textops import ALL_STOPWORDS

    sw = _sql_stoplist(ALL_STOPWORDS)
    return f"""
WITH d AS (SELECT source, lang, text, {_toks('text')} AS toks FROM documents),
m AS (SELECT source, lang,
  len(toks)::BIGINT AS n_tokens,
  length(text)::BIGINT AS n_chars,
  len(list_filter(toks, x -> list_contains({sw}, x)))::BIGINT AS stop_hits,
  length(regexp_replace(text, '[^0-9A-Za-z]', '', 'g'))::BIGINT AS alnum
FROM d),
p AS (SELECT source, lang, n_tokens, n_chars,
  floor(stop_hits * 1000000 / greatest(n_tokens, 1))::BIGINT AS stopword_ppm,
  floor(alnum * 1000000 / greatest(n_chars, 1))::BIGINT AS alnum_ppm,
  least(n_tokens, 100) * 10000 AS lencap_ppm
FROM m)
SELECT source, count(*)::BIGINT AS n_docs,
  count(DISTINCT lang)::BIGINT AS n_langs,
  sum(n_tokens)::BIGINT AS sum_tokens,
  sum(n_chars)::BIGINT AS sum_chars,
  sum(floor((lencap_ppm * 2 + stopword_ppm + alnum_ppm) / 4)::BIGINT)::BIGINT
      AS sum_quality_ppm
FROM p GROUP BY source
"""


_TOKEN_QUANTILES_SQL = f"""
WITH t AS (SELECT lang, len({_toks('text')})::BIGINT AS n_tokens
           FROM documents)
SELECT lang, count(*)::BIGINT AS n_docs,
  round(quantile_cont(n_tokens, 0.25), 6) AS p25_tokens,
  round(quantile_cont(n_tokens, 0.50), 6) AS p50_tokens,
  round(quantile_cont(n_tokens, 0.75), 6) AS p75_tokens
FROM t GROUP BY lang
"""


def _sql_stoplist(words) -> str:
    return "[" + ", ".join(f"'{w}'" for w in words) + "]"


def _text_quality_sql() -> str:
    from mee_spark.textops import ALL_STOPWORDS

    sw = _sql_stoplist(ALL_STOPWORDS)
    return f"""
WITH d AS (SELECT doc_id, text, {_toks('text')} AS toks FROM documents),
m AS (SELECT doc_id,
  len(toks)::BIGINT AS n_tokens,
  length(text)::BIGINT AS n_chars,
  len(list_filter(toks, x -> list_contains({sw}, x)))::BIGINT AS stop_hits,
  length(regexp_replace(text, '[^0-9A-Za-z]', '', 'g'))::BIGINT AS alnum
FROM d),
p AS (SELECT doc_id, n_tokens, n_chars,
  floor(stop_hits * 1000000 / greatest(n_tokens, 1))::BIGINT AS stopword_ppm,
  floor(alnum * 1000000 / greatest(n_chars, 1))::BIGINT AS alnum_ppm,
  least(n_tokens, 100) * 10000 AS lencap_ppm
FROM m)
SELECT doc_id, n_tokens, n_chars, stopword_ppm, alnum_ppm,
  floor((lencap_ppm * 2 + stopword_ppm + alnum_ppm) / 4)::BIGINT AS quality_ppm
FROM p
"""


def _text_langid_sql() -> str:
    from mee_spark.textops import STOPWORDS

    langs = sorted(STOPWORDS)
    hits = ",\n  ".join(
        f"len(list_filter(toks, x -> list_contains({_sql_stoplist(STOPWORDS[lg])}, x)))::BIGINT AS h_{lg}"
        for lg in langs
    )
    best = "greatest(" + ", ".join(f"h_{lg}" for lg in langs) + ")"
    case = "CASE WHEN " + best + " = 0 THEN 'und' " + " ".join(
        f"WHEN h_{lg} = {best} THEN '{lg}'" for lg in langs
    ) + " END"
    return f"""
WITH d AS (SELECT doc_id, {_toks('text')} AS toks FROM documents),
m AS (SELECT doc_id, len(toks)::BIGINT AS n,
  {hits}
FROM d)
SELECT doc_id, {case} AS lang_pred,
  round({best} / greatest(n, 1)::DOUBLE, 6) AS lang_conf
FROM m
"""


_BPE_SQL = r"""
WITH d AS (SELECT doc_id::BIGINT AS doc_id,
                  regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+', 0) AS units
           FROM documents)
SELECT doc_id, len(units)::BIGINT AS n_units,
       coalesce(list_sum(list_transform(units,
                u -> floor((length(u) + 3) / 4)::BIGINT)), 0)::BIGINT AS n_subwords,
       round(coalesce(list_sum(list_transform(units, u -> length(u)::DOUBLE)), 0.0)
             / greatest(len(units), 1), 6) AS mean_unit_len
FROM d
"""

def _winnow_sql(k: int = 8, window: int = 4) -> str:
    return f"""
WITH d AS (SELECT doc_id::BIGINT AS doc_id,
                  array_to_string({_toks('text')}, ' ') AS norm FROM documents),
h AS (SELECT doc_id,
             [{_hash15(f'substr(norm, i, {k})')}
              for i in range(1, greatest(length(norm) - {k} + 1, 1) + 1)] AS hashes
      FROM d),
p AS (SELECT doc_id,
             list_distinct([list_min(hashes[j:j+{window - 1}])
                            for j in range(1, greatest(len(hashes) - {window} + 1, 1) + 1)]) AS picks
      FROM h)
SELECT doc_id, unnest(picks) AS fp FROM p
"""


_WINNOW_SQL = _winnow_sql(8, 4)


# pairs instance: k=16 (~two consecutive shared tokens on this corpus —
# 8-char grams match single Zipfian tokens and degenerate toward
# all-pairs), window 4, >=5 shared fingerprints, hot-fp cap 64 (mirrors
# winnow_dup_pairs(max_fp_df=64) — fps in >64 docs are boilerplate noise
# and an M^2-pair skew bomb at scale; both engines drop them)
_WINNOW_PAIRS_SQL = f"""
WITH w0 AS ({_winnow_sql(16, 4)}),
w AS (SELECT doc_id, fp FROM w0
      QUALIFY count(*) OVER (PARTITION BY fp) <= 64)
SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b, count(*)::BIGINT AS n_shared
FROM w a JOIN w b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY 1, 2
HAVING count(*) >= 5
"""


def _curate_sql() -> str:
    return f"""
WITH q AS ({_text_quality_sql()}),
l AS ({_text_langid_sql()}),
surv AS (
  SELECT min(doc_id) AS doc_id, count(*)::BIGINT AS n_dupes
  FROM (SELECT doc_id::BIGINT AS doc_id,
               {_hash15("array_to_string(" + _toks('text') + ", ' ')")} AS fp
        FROM documents)
  GROUP BY fp)
SELECT surv.doc_id, surv.n_dupes, q.quality_ppm, l.lang_pred
FROM surv JOIN q ON q.doc_id = surv.doc_id JOIN l ON l.doc_id = surv.doc_id
WHERE l.lang_pred = 'en' AND q.quality_ppm >= 450000
"""


# ----------------------------------------------------------------- dedup

def q_dedup_exact(spark, sf_dir):
    from mee_spark.dedup import dedup_exact

    return dedup_exact(_read(spark, sf_dir, "documents"))


def q_dedup_ngram_jaccard(spark, sf_dir):
    from mee_spark.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(_read(spark, sf_dir, "documents"), n=3, threshold=0.15)


def q_dedup_minhash_lsh(spark, sf_dir):
    from mee_spark.dedup import minhash_lsh_pairs

    return minhash_lsh_pairs(_read(spark, sf_dir, "documents"),
                             num_hashes=16, bands=4, n=3, verify_threshold=0.15)


def q_dedup_simhash(spark, sf_dir):
    from mee_spark.dedup import simhash

    return simhash(_read(spark, sf_dir, "documents"))


def q_dedup_simhash_pairs(spark, sf_dir):
    """Near-dup pairs by simhash hamming distance — the engine runs the
    PIGEONHOLE-BANDED variant (any pair within distance H agrees on >=1
    of H+1 bit-chunks, so candidates come from chunk equi-joins — lossless
    and never all-pairs); the oracle computes the same set the quadratic
    way, which is what makes the banding's losslessness driver-checked."""
    from mee_spark.dedup import simhash_pairs_banded

    return simhash_pairs_banded(_read(spark, sf_dir, "documents"), max_hamming=7)


def q_dedup_embedding(spark, sf_dir):
    """Exact all-pairs cosine dedup — the small-scale verify kernel and
    the oracle for the LSH-blocked scale path below (same kernel/scale
    split as ngram_jaccard vs minhash_lsh)."""
    from mee_spark.similarity import embedding_dup_pairs

    return embedding_dup_pairs(_read(spark, sf_dir, "embeddings"), threshold=0.4)


# contract instance: the synthetic embeddings' max pairwise cos is ~0.51,
# so the near-dup threshold is 0.4 and the blocking is 4 planes / radius 2
# (recall stays high at that wide an angle). Production near-dup (>=0.95)
# uses the defaults: 16 planes / radius 1.
_EMB_LSH_PARAMS = dict(threshold=0.4, n_planes=4, probe_radius=2, seed=13)


def q_dedup_embedding_lsh(spark, sf_dir):
    """LSH-blocked embedding near-dup — the 10^12-vector path: candidates
    only within hamming<=radius hyperplane buckets, exact-cosine verify."""
    from mee_spark.similarity import embedding_dup_pairs_lsh

    return embedding_dup_pairs_lsh(_read(spark, sf_dir, "embeddings"),
                                   **_EMB_LSH_PARAMS)


_SHINGLE_CTE = f"""
d AS (SELECT doc_id::BIGINT AS doc_id, {_toks('text')} AS toks FROM documents),
grams AS (
  SELECT doc_id, unnest(list_distinct(
    [array_to_string(toks[i:i+2], ' ') for i in range(1, greatest(len(toks) - 2, 1) + 1)]
  )) AS gram FROM d),
sh AS (SELECT DISTINCT doc_id, {_hash15('gram')} AS shingle FROM grams WHERE length(gram) > 0)
"""

_NGRAM_JACCARD_SQL = f"""
WITH {_SHINGLE_CTE},
sizes AS (SELECT doc_id, count(*)::BIGINT AS sz FROM sh GROUP BY 1),
common AS (
  SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b, count(*)::BIGINT AS c
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT doc_id_a, doc_id_b,
       round(c / (sa.sz + sb.sz - c)::DOUBLE, 6) AS jaccard
FROM common
JOIN sizes sa ON sa.doc_id = doc_id_a
JOIN sizes sb ON sb.doc_id = doc_id_b
WHERE round(c / (sa.sz + sb.sz - c)::DOUBLE, 6) >= 0.15
"""

_MINHASH_CTE = f"""
hashed AS (
  SELECT g.doc_id, i.i, {_hash15("i.i::VARCHAR || ':' || g.gram")} AS h
  FROM (SELECT DISTINCT doc_id, gram FROM grams WHERE length(gram) > 0) g
  CROSS JOIN (SELECT unnest(range(16)) AS i) i),
sigs AS (
  SELECT doc_id, list(minv ORDER BY i) AS sig
  FROM (SELECT doc_id, i, min(h) AS minv FROM hashed GROUP BY 1, 2)
  GROUP BY 1),
banded AS (
  SELECT doc_id, b.band,
         md5(array_to_string(list_transform(sig[b.band * 4 + 1 : b.band * 4 + 4],
                                            v -> v::VARCHAR), ',')) AS key
  FROM sigs CROSS JOIN (SELECT unnest(range(4))::INT AS band) b)
"""

_MINHASH_LSH_SQL = f"""
WITH {_SHINGLE_CTE},
{_MINHASH_CTE},
cand AS (
  SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
sizes AS (SELECT doc_id, count(*)::BIGINT AS sz FROM sh GROUP BY 1),
common AS (
  SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b, count(*)::BIGINT AS c
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
verified AS (
  SELECT doc_id_a, doc_id_b, round(c / (sa.sz + sb.sz - c)::DOUBLE, 6) AS jaccard
  FROM common
  JOIN sizes sa ON sa.doc_id = doc_id_a
  JOIN sizes sb ON sb.doc_id = doc_id_b
  WHERE round(c / (sa.sz + sb.sz - c)::DOUBLE, 6) >= 0.15)
SELECT v.doc_id_a, v.doc_id_b, v.jaccard
FROM cand JOIN verified v USING (doc_id_a, doc_id_b)
"""

_SIMHASH_SQL = f"""
WITH d AS (SELECT doc_id::BIGINT AS doc_id, {_toks('text')} AS toks FROM documents),
t AS (SELECT doc_id, {_hash15('tok')} AS h
      FROM (SELECT doc_id, unnest(toks) AS tok FROM d)),
bits AS (
  SELECT doc_id, j.j,
         sum(CASE WHEN ((h >> j.j) & 1) = 1 THEN 1 ELSE -1 END) AS s
  FROM t CROSS JOIN (SELECT unnest(range(64))::INT AS j) j
  GROUP BY 1, 2)
SELECT doc_id,
       sum(CASE WHEN s > 0 THEN (1::BIGINT << j) ELSE 0 END)::BIGINT AS simhash
FROM bits GROUP BY 1
"""

# the quadratic ground truth: the engine answers with pigeonhole banding,
# so rows+hash equality here IS the losslessness proof, driver-gated
_SIMHASH_PAIRS_SQL = f"""
WITH s AS ({_SIMHASH_SQL})
SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
       bit_count(xor(a.simhash, b.simhash))::BIGINT AS hamming
FROM s a JOIN s b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 7
"""

_COS = (
    "list_sum(list_transform(list_zip({a}, {b}), x -> x[1]::DOUBLE * x[2]::DOUBLE)) / "
    "(sqrt(list_sum(list_transform({a}, x -> x::DOUBLE * x::DOUBLE))) * "
    "sqrt(list_sum(list_transform({b}, x -> x::DOUBLE * x::DOUBLE))))"
)

_EMB_DUP_SQL = f"""
WITH e AS (SELECT vec_id::BIGINT AS vec_id, embedding FROM embeddings)
SELECT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b,
       round({_COS.format(a='a.embedding', b='b.embedding')}, 6) AS cos
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE round({_COS.format(a='a.embedding', b='b.embedding')}, 6) >= 0.4
"""


def _bucket_expr(n_planes: int, seed: int, col: str = "embedding") -> str:
    """DuckDB sign-bit bucket id from the same seeded hyperplanes as
    mee_spark.similarity.hyperplanes — left-to-right float64 fold."""
    from mee_spark.similarity import hyperplanes

    planes = hyperplanes(64, n_planes, seed)
    terms = []
    for j, plane in enumerate(planes):
        consts = "[" + ", ".join(repr(float(c)) for c in plane) + "]::DOUBLE[]"
        proj = (f"list_sum(list_transform(list_zip({col}, {consts}), "
                f"x -> x[1]::DOUBLE * x[2]))")
        terms.append(f"(CASE WHEN {proj} > 0 THEN {1 << j} ELSE 0 END)")
    return " + ".join(terms)


def _emb_lsh_dup_sql() -> str:
    from mee_spark.similarity import _probe_masks

    p = _EMB_LSH_PARAMS
    masks = ", ".join(str(m) for m in _probe_masks(p["n_planes"], p["probe_radius"]))
    bkt = _bucket_expr(p["n_planes"], p["seed"])
    cos = _COS.format(a="ea.embedding", b="eb.embedding")
    return f"""
WITH e AS (SELECT vec_id::BIGINT AS vec_id, embedding, ({bkt})::BIGINT AS bkt FROM embeddings),
a AS (SELECT vec_id, xor(bkt, m.m) AS pbkt
      FROM e CROSS JOIN (SELECT unnest([{masks}])::BIGINT AS m) m),
cand AS (SELECT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b
         FROM a JOIN e b ON a.pbkt = b.bkt AND a.vec_id < b.vec_id)
SELECT c.vec_id_a, c.vec_id_b, round({cos}, 6) AS cos
FROM cand c JOIN e ea ON ea.vec_id = c.vec_id_a JOIN e eb ON eb.vec_id = c.vec_id_b
WHERE round({cos}, 6) >= {p["threshold"]}
"""


def _ann_ivf_sql(n_centroids: int = 16, nprobe: int = 4, seed: int = 29,
                 k: int = 10) -> str:
    from mee_spark.similarity import fixed_centroids

    cent = fixed_centroids(64, n_centroids, seed)
    vals = ", ".join(
        "(" + str(i) + ", [" + ", ".join(repr(float(x)) for x in c) + "]::DOUBLE[])"
        for i, c in enumerate(cent))
    cos = _COS.format(a="pv.pvec", b="ce.embedding")
    return f"""
WITH e AS (SELECT vec_id::BIGINT AS vec_id, embedding FROM embeddings),
cent(cid, c) AS (VALUES {vals}),
dots AS (SELECT e.vec_id, cent.cid,
                list_sum(list_transform(list_zip(e.embedding, cent.c),
                                        x -> x[1]::DOUBLE * x[2])) AS d
         FROM e CROSS JOIN cent),
rc AS (SELECT vec_id, cid,
              row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, cid) AS rn
       FROM dots),
assign AS (SELECT vec_id, cid AS cell FROM rc WHERE rn = 1),
pcells AS (SELECT vec_id AS probe_id, cid AS cell FROM rc
           WHERE rn <= {nprobe} AND vec_id IN ({_ANN_PROBE_LIST})),
pv AS (SELECT vec_id AS probe_id, embedding AS pvec FROM e
       WHERE vec_id IN ({_ANN_PROBE_LIST})),
scored AS (SELECT pc.probe_id, a.vec_id, round({cos}, 6) AS cos
           FROM pcells pc JOIN assign a ON a.cell = pc.cell
           JOIN pv ON pv.probe_id = pc.probe_id
           JOIN e ce ON ce.vec_id = a.vec_id
           WHERE a.vec_id <> pc.probe_id),
ranked AS (SELECT probe_id, vec_id, cos,
                  row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, vec_id) AS rank
           FROM scored)
SELECT probe_id, rank, vec_id, cos FROM ranked WHERE rank <= {k}
"""

# ------------------------------------------------------------- similarity

def q_ann_bruteforce(spark, sf_dir):
    from mee_spark.similarity import ann_bruteforce_topk

    return ann_bruteforce_topk(_read(spark, sf_dir, "embeddings"), ANN_PROBES, k=10)


def q_ann_ivf(spark, sf_dir):
    """IVF ANN with the fixed (seeded, data-oblivious) coarse quantizer —
    fully oracle-checked (centroids inlined as SQL constants)."""
    from mee_spark.similarity import ann_ivf_topk_fixed

    return ann_ivf_topk_fixed(_read(spark, sf_dir, "embeddings"), ANN_PROBES,
                              k=10, n_centroids=16, nprobe=4, seed=29)


def q_ann_lsh(spark, sf_dir):
    from mee_spark.similarity import ann_lsh_topk

    return ann_lsh_topk(_read(spark, sf_dir, "embeddings"), ANN_PROBES, k=10)


_ANN_PROBE_LIST = ", ".join(str(p) for p in ANN_PROBES)

_ANN_BRUTE_SQL = f"""
WITH e AS (SELECT vec_id::BIGINT AS vec_id, embedding FROM embeddings),
p AS (SELECT vec_id AS probe_id, embedding AS pvec FROM e WHERE vec_id IN ({_ANN_PROBE_LIST})),
scored AS (
  SELECT p.probe_id, e.vec_id,
         round({_COS.format(a='p.pvec', b='e.embedding')}, 6) AS cos
  FROM e CROSS JOIN p WHERE e.vec_id <> p.probe_id),
ranked AS (SELECT probe_id, vec_id, cos,
                  row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, vec_id) AS rank
           FROM scored)
SELECT probe_id, rank, vec_id, cos FROM ranked WHERE rank <= 10
"""


def _ann_lsh_sql() -> str:
    from mee_spark.similarity import hyperplanes

    planes = hyperplanes(64, 8, 13)
    proj_terms = []
    for j, plane in enumerate(planes):
        consts = "[" + ", ".join(repr(float(c)) for c in plane) + "]::DOUBLE[]"
        proj = (f"list_sum(list_transform(list_zip(embedding, {consts}), "
                f"x -> x[1]::DOUBLE * x[2]))")
        proj_terms.append(f"(CASE WHEN {proj} > 0 THEN {1 << j} ELSE 0 END)")
    bkt = " + ".join(proj_terms)
    n_planes = 8
    flip_list = ", ".join(["0"] + [str(1 << j) for j in range(n_planes)])
    return f"""
WITH e AS (SELECT vec_id::BIGINT AS vec_id, embedding, ({bkt})::BIGINT AS bkt FROM embeddings),
p0 AS (SELECT vec_id AS probe_id, embedding AS pvec, bkt FROM e
       WHERE vec_id IN ({_ANN_PROBE_LIST})),
p AS (SELECT probe_id, pvec, xor(bkt, f.f) AS pbkt
      FROM p0 CROSS JOIN (SELECT unnest([{flip_list}])::BIGINT AS f) f),
scored AS (
  SELECT p.probe_id, e.vec_id,
         round({_COS.format(a='p.pvec', b='e.embedding')}, 6) AS cos
  FROM e JOIN p ON e.bkt = p.pbkt WHERE e.vec_id <> p.probe_id),
ranked AS (SELECT probe_id, vec_id, cos,
                  row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, vec_id) AS rank
           FROM scored)
SELECT probe_id, rank, vec_id, cos FROM ranked WHERE rank <= 10
"""


# ------------------------------------------------------------- relational

def q_rel_lookup_join(spark, sf_dir):
    from mee_spark.relational import lookup_join

    return lookup_join(_read(spark, sf_dir, "orders"), _read(spark, sf_dir, "customer"))


def q_rel_multihop_join(spark, sf_dir):
    from mee_spark.relational import multihop_join

    return multihop_join(
        _read(spark, sf_dir, "lineitem"), _read(spark, sf_dir, "orders"),
        _read(spark, sf_dir, "customer"), _read(spark, sf_dir, "nation"))


def q_rel_nested_collect(spark, sf_dir):
    from mee_spark.relational import nested_collect

    return nested_collect(_read(spark, sf_dir, "orders"), _read(spark, sf_dir, "lineitem"))


def q_rel_filter_predicates(spark, sf_dir):
    from mee_spark.relational import filter_predicates

    return filter_predicates(_read(spark, sf_dir, "lineitem"))


def q_rel_decorrelated_count(spark, sf_dir):
    from mee_spark.relational import decorrelated_count

    return decorrelated_count(_read(spark, sf_dir, "customer"), _read(spark, sf_dir, "orders"))


def q_rel_scalar_folds(spark, sf_dir):
    from mee_spark.relational import scalar_folds

    return scalar_folds(_read(spark, sf_dir, "lineitem"))


def q_rel_topk_per_group(spark, sf_dir):
    from mee_spark.relational import topk_per_group

    return topk_per_group(_read(spark, sf_dir, "orders"))


def q_rel_selfjoin_roles(spark, sf_dir):
    from mee_spark.relational import selfjoin_roles

    return selfjoin_roles(_read(spark, sf_dir, "events"))


def q_rel_cdc_normalize(spark, sf_dir):
    from mee_spark.relational import cdc_normalize

    return cdc_normalize(_read(spark, sf_dir, "events"))


def q_rel_diff_lag(spark, sf_dir):
    from mee_spark.relational import diff_lag

    return diff_lag(_read(spark, sf_dir, "events"))


def q_rel_cdc_trigger(spark, sf_dir):
    from mee_spark.relational import cdc_trigger

    # '~DELETE' exercises the negation form; pytest covers ALL / X|Y /
    # unparseable against the reference truth table
    return cdc_trigger(_read(spark, sf_dir, "events"), trigger="~DELETE")


def q_rel_date_arithmetic(spark, sf_dir):
    from mee_spark.relational import date_arithmetic

    # UTC session tz: parquet timestamps are UTC instants; DuckDB reads
    # them as naive UTC wall-clock, so day truncation must agree
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return date_arithmetic(_read(spark, sf_dir, "events"))


def q_rel_date_ranges(spark, sf_dir):
    from mee_spark.relational import date_ranges

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return date_ranges(_read(spark, sf_dir, "events"))


# ------------------------------------------------------------ the contract

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: BM25 top-k over sf0.001 documents (exhaustive path)."""
    return q_fulltext_bm25_topk(spark, "/root/testdata/sf0.001")


def q_rel_sessionize(spark, sf_dir):
    """Window family: lag-gap sessionization (30-min inactivity gap)."""
    from mee_spark.relational import sessionize

    # UTC session tz: sessionize derives epoch seconds via an NTZ→LTZ
    # cast, which reads the naive parquet timestamp in the session tz; a
    # DST-observing tz would shift gaps straddling a transition by
    # ±3600 s and diverge from the oracle's floor(epoch(ts))
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return sessionize(_read(spark, sf_dir, "events"), gap_minutes=30).select(
        "event_id", "user_id", "session_id")


def q_rel_rolling_stats(spark, sf_dir):
    """Window family: per-user 5-row rolling mean/max feature windows."""
    from mee_spark.relational import rolling_stats

    return rolling_stats(_read(spark, sf_dir, "events"), n_preceding=4)


# ------------------------------------------------------------- streaming
# §2.8 driver gate (VERDICT r3 #6): the streaming operators were pytest-
# only; these entries run the REAL Structured Streaming plans (file
# source → operator → memory sink, availableNow trigger) and return the
# settled sink table, so the stateful dedup and the watermarked windowed
# aggregation carry the same rows+schema+hash oracle evidence as every
# batch operator. Both outputs are batch-order invariant by construction
# (an exactly-once url SET; complete-mode window totals), which is what
# makes a streaming run hash-comparable to declarative SQL.


def q_stream_windowed_counts(spark, sf_dir):
    """mee_spark.streaming.windowed_counts over a streamed events table:
    tumbling 1-hour event-time windows per event_type, complete-mode
    totals (equal to the batch aggregation of the same input)."""
    import uuid

    from mee_spark.streaming import windowed_counts

    # UTC session tz: F.window buckets event-time in the session tz
    # while the oracle uses date_trunc('hour', ts) on naive UTC values
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # the file stream source requires a DIRECTORY; stage the driver's
    # single parquet file into one
    stage = _temp_dir("stream_wc_src_")
    _read(spark, sf_dir, "events").write.mode("overwrite").parquet(stage)
    schema = ("event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    src = spark.readStream.schema(schema).parquet(stage)
    counts = windowed_counts(src, "ts", "event_type",
                             window="1 hour", watermark="2 hours")
    name = "stream_wc_" + uuid.uuid4().hex[:8]
    # measured 2.6 s -> 1.1 s at 8 state partitions, -0.1 s more at 4
    # (round 7), identical output (see _shuffle_partitions)
    with _shuffle_partitions(spark, 4):
        q = (counts.writeStream.format("memory").queryName(name)
             .outputMode("complete").trigger(availableNow=True).start())
        q.awaitTermination()
    return spark.table(name).select(
        "window_start", "event_type", F.col("n").cast("long").alias("n"))


def q_stream_dedup_urls(spark, sf_dir):
    """mee_spark.streaming.stateful_url_dedup (applyInPandasWithState)
    over a 4-micro-batch stream of duplicate-heavy synthetic urls built
    from the documents table; the emitted url SET is exactly-once across
    batches regardless of batch order — the oracle is DISTINCT."""
    import uuid

    from mee_spark.streaming import stateful_url_dedup

    # stage the single driver parquet into 4 files so maxFilesPerTrigger=1
    # yields 4 micro-batches — the cross-batch state path runs for real
    stage = _temp_dir("stream_dedup_src_")
    _read(spark, sf_dir, "documents").repartition(4).write.mode(
        "overwrite").parquet(stage)
    schema = "doc_id long, text string, lang string, source string, n_chars long"
    src = (spark.readStream.schema(schema)
           .option("maxFilesPerTrigger", 1).parquet(stage))
    pages = src.select(
        F.concat(F.lit("doc://"), F.col("source"), F.lit("/"), F.col("lang"))
        .alias("url"),
        F.lit("2024-01-01 00:00:00").cast("timestamp").alias("warc_ts"),
        F.col("text").cast("binary").alias("html"),
        F.col("text").alias("text"), F.col("lang").alias("lang"))
    name = "stream_dd_" + uuid.uuid4().hex[:8]
    # fewer state stores per micro-batch (see _shuffle_partitions); for
    # this applyInPandasWithState query the larger cost is COLD
    # Python-worker spin-up (~12.5 s first run -> ~3.6 s warm, either
    # partitioning), which bench.py's warm pass absorbs. Keyed-state
    # sharding still runs across 8 partitions x 4 batches, so the
    # cross-batch path the oracle gates is untouched.
    # 8 -> 4 state partitions in round 7: ~0.4 s of per-micro-batch
    # state-store/task overhead, identical output (the 4096-shard hash
    # keying is unchanged; partitioning only groups shards per task)
    with _shuffle_partitions(spark, 4):
        q = (stateful_url_dedup(pages, mode="exact")
             .select("url")
             .writeStream.format("memory").queryName(name)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination()
    return spark.table(name).select("url")


# -------------------------------------------------------------- media decode
# Driver-oracled multimodal decode (VERDICT r5 #3): a deterministic media
# corpus derived from the documents table — doc_ids with
# doc_id % _MEDIA_MOD == _MEDIA_RES (capped below _MEDIA_CAP so the
# oracle's precomputed expectation table stays bounded at any SF) become
# media items. Payloads are REAL encoded bytes (P6 PPM / PNG / RIFF WAV /
# Y4M) that are pure functions of media_id (multimodal.make_*_payload).
# The Spark side DECODES them through the library's mapInPandas
# operators; the oracle recomputes the expected stats from the
# GENERATION formula (the raw pixel/sample planes BEFORE encoding), so
# what the equality gates is the codec path itself: PNG un-filtering +
# zlib + CRC, RIFF/WAVE parsing, Y4M header/FRAME/plane walk. All three
# formats are lossless, so decode(encode(x)) == x is exact; gray Y4M pins
# chroma so YUV->RGB is the identity on the Y plane (no decoder math in
# the oracle). JPEG stays pytest-only (lossy).

_MEDIA_MOD, _MEDIA_RES, _MEDIA_CAP = 31, 5, 2000


def _img_dims(mid: int) -> tuple[int, int]:
    return 8 + mid % 9, 6 + mid % 7


def _wav_dur_ms(mid: int) -> int:
    return 250 + (mid % 4) * 125


def _y4m_shape(mid: int) -> tuple[int, int, int]:
    return 8 + 2 * (mid % 5), 6 + 2 * (mid % 4), 4 + mid % 3


def _media_ids(spark, sf_dir):
    return (_read(spark, sf_dir, "documents")
            .where((F.pmod(F.col("doc_id"), F.lit(_MEDIA_MOD)) == _MEDIA_RES)
                   & (F.col("doc_id") < _MEDIA_CAP))
            .select(F.col("doc_id").cast("long").alias("media_id")))


def _media_table(ids, kind: str, make):
    """Distributed media ingest: payloads are built inside mapInPandas
    (each task materializes only its partition's media — the shape a
    real binary-ingest stage has), never on the driver."""
    import pandas as pd

    def ingest(batches):
        for pdf in batches:
            rows = [(int(m),) + make(int(m)) for m in pdf["media_id"]]
            yield pd.DataFrame(rows, columns=["media_id", "payload",
                                              "duration_ms"])

    return (ids.repartition(4, "media_id")
            .mapInPandas(ingest, "media_id long, payload binary, "
                                 "duration_ms long")
            .select("media_id", F.lit(kind).alias("kind"), "payload",
                    "duration_ms"))


def q_media_pixel_stats(spark, sf_dir):
    """REAL image decode, driver-gated: even media_ids carry P6 PPM, odd
    ones PNG (row filters cycling 0-4, so every un-filter path runs);
    image_features decodes via mapInPandas and the per-channel means +
    content hash must equal the generation-formula expectations."""
    from mee_spark.multimodal import (image_features, make_png_payload,
                                      make_ppm_payload)

    def make(mid):
        w, h = _img_dims(mid)
        p = (make_ppm_payload(mid, w, h) if mid % 2 == 0
             else make_png_payload(mid, w, h))
        return (p, None)

    media = _media_table(_media_ids(spark, sf_dir), "image", make)
    return image_features(media)


def q_media_audio_rms(spark, sf_dir):
    """REAL RIFF/WAVE decode, driver-gated: deterministic PCM16 sine
    tones; audio_frames parses the RIFF container and the per-100ms-frame
    RMS must equal the sine-formula expectations."""
    from mee_spark.multimodal import audio_frames, make_wav_payload

    def make(mid):
        dur = _wav_dur_ms(mid)
        return (make_wav_payload(mid, dur), dur)

    media = _media_table(_media_ids(spark, sf_dir), "audio", make)
    return audio_frames(media, frame_ms=100)


def q_media_video_luma(spark, sf_dir):
    """REAL Y4M decode, driver-gated: gray streams (chroma pinned to 128,
    so YUV->RGB is exactly the Y plane and the oracle needs zero decoder
    math); video_frame_sample walks FRAME markers and the sampled frames'
    mean luma must equal the generated Y planes'."""
    from mee_spark.multimodal import make_y4m_payload, video_frame_sample

    def make(mid):
        w, h, nf = _y4m_shape(mid)
        return (make_y4m_payload(mid, w, h, n_frames=nf, fps=25, gray=True),
                None)

    media = _media_table(_media_ids(spark, sf_dir), "video", make)
    return video_frame_sample(media, stride=2)


def _media_join_sql(values: list[str], cols: str, select: str) -> str:
    return f"""
WITH exp({cols}) AS (VALUES {", ".join(values)}),
m AS (SELECT doc_id::BIGINT AS media_id FROM documents
      WHERE doc_id % {_MEDIA_MOD} = {_MEDIA_RES} AND doc_id < {_MEDIA_CAP})
SELECT {select} FROM exp e JOIN m USING (media_id)
"""


def _media_pixel_stats_sql() -> str:
    import numpy as np

    vals = []
    for mid in range(_MEDIA_RES, _MEDIA_CAP, _MEDIA_MOD):
        w, h = _img_dims(mid)
        px = np.random.default_rng(mid).integers(0, 256, (h, w, 3),
                                                 dtype=np.uint8)
        means = px.reshape(-1, 3).mean(axis=0)
        phash = int(np.abs(px.astype(np.int64)).sum() % (1 << 60))
        vals.append(f"({mid}, {w}, {h}, {float(means[0])!r}, "
                    f"{float(means[1])!r}, {float(means[2])!r}, {phash})")
    return _media_join_sql(
        vals, "media_id, width, height, mean_r, mean_g, mean_b, phash",
        "e.media_id::BIGINT AS media_id, e.width::INT AS width, "
        "e.height::INT AS height, e.mean_r::DOUBLE AS mean_r, "
        "e.mean_g::DOUBLE AS mean_g, e.mean_b::DOUBLE AS mean_b, "
        "e.phash::BIGINT AS phash")


def _media_audio_rms_sql() -> str:
    import numpy as np

    vals = []
    for mid in range(_MEDIA_RES, _MEDIA_CAP, _MEDIA_MOD):
        dur = _wav_dur_ms(mid)
        n = max(1, int(8000 * dur / 1000))
        t = np.arange(n, dtype=np.float64) / 8000
        phase = (mid % 360) * np.pi / 180.0
        samples = (0.5 * np.sin(2 * np.pi * 440.0 * t + phase)
                   * 32767.0).astype(np.int16)
        # mirror audio_frames' stat math on the GENERATED samples (the
        # RIFF decode path is what the comparison gates)
        mono = samples.reshape(-1, 1).astype(np.float64).mean(axis=1) / 32768.0
        per = 800  # 8000 Hz * 100 ms
        for i in range(max(1, -(-len(mono) // per))):
            fr = mono[i * per:(i + 1) * per]
            rms = float(np.round(np.sqrt((fr * fr).mean()), 6)) if len(fr) else 0.0
            vals.append(f"({mid}, {i}, {rms!r})")
    return _media_join_sql(
        vals, "media_id, frame_idx, rms",
        "e.media_id::BIGINT AS media_id, e.frame_idx::INT AS frame_idx, "
        "e.rms::DOUBLE AS rms")


def _media_video_luma_sql() -> str:
    import numpy as np

    vals = []
    for mid in range(_MEDIA_RES, _MEDIA_CAP, _MEDIA_MOD):
        w, h, nf = _y4m_shape(mid)
        rng = np.random.default_rng(mid * 104729 + 3)
        for i in range(nf):
            y = rng.integers(0, 256, (h, w), dtype=np.uint8)
            if i % 2:  # stride 2 samples even frame indices
                continue
            fr = y.astype(np.float64)
            luma = 0.299 * fr + 0.587 * fr + 0.114 * fr
            vals.append(f"({mid}, {i}, {i * 40}, {w}, {h}, "
                        f"{float(np.round(luma.mean(), 6))!r})")
    return _media_join_sql(
        vals, "media_id, frame_idx, t_ms, width, height, mean_luma",
        "e.media_id::BIGINT AS media_id, e.frame_idx::INT AS frame_idx, "
        "e.t_ms::INT AS t_ms, e.width::INT AS width, "
        "e.height::INT AS height, e.mean_luma::DOUBLE AS mean_luma")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # ORDERING CONTRACT: the driver's correctness pass may sample a prefix
    # of this dict (rounds 5 and 6 checked the first 50), so entries are
    # ordered least-recently-oracled FIRST: the 18 queries whose latest
    # green row is r5 (rotated out by the r6 prefix) lead, then the r6
    # block in its previous relative order. Rotate per round so no
    # entry's evidence goes stale (VERDICT r6 Next #2).
    return {
        # --- r5 evidence only, rotated out by the r6 prefix ---
        "text_vocab_topk": q_text_vocab_topk,
        "dedup_coverage": q_dedup_coverage,
        "dedup_decontaminate": q_dedup_decontaminate,
        "dedup_winnow": q_dedup_winnow,
        "dedup_clusters": q_dedup_clusters,
        "pipeline_curate": q_pipeline_curate,
        "dedup_exact": q_dedup_exact,
        "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
        "dedup_minhash_lsh": q_dedup_minhash_lsh,
        "dedup_simhash": q_dedup_simhash,
        "dedup_simhash_pairs": q_dedup_simhash_pairs,
        "dedup_embedding": q_dedup_embedding,
        "dedup_embedding_lsh": q_dedup_embedding_lsh,
        "ann_bruteforce": q_ann_bruteforce,
        "ann_lsh": q_ann_lsh,
        "ann_ivf": q_ann_ivf,
        "rel_lookup_join": q_rel_lookup_join,
        "rel_multihop_join": q_rel_multihop_join,
        # --- fresh r6 green rows, previous relative order ---
        "rel_nested_collect": q_rel_nested_collect,
        "rel_filter_predicates": q_rel_filter_predicates,
        "rel_decorrelated_count": q_rel_decorrelated_count,
        "rel_scalar_folds": q_rel_scalar_folds,
        "rel_topk_per_group": q_rel_topk_per_group,
        "rel_selfjoin_roles": q_rel_selfjoin_roles,
        "rel_cdc_normalize": q_rel_cdc_normalize,
        "rel_cdc_trigger": q_rel_cdc_trigger,
        "rel_diff_lag": q_rel_diff_lag,
        "rel_date_arithmetic": q_rel_date_arithmetic,
        "rel_date_ranges": q_rel_date_ranges,
        "rel_sessionize": q_rel_sessionize,
        "rel_rolling_stats": q_rel_rolling_stats,
        "stream_windowed_counts": q_stream_windowed_counts,
        "stream_dedup_urls": q_stream_dedup_urls,
        # --- new this round: never driver-checked ---
        "media_pixel_stats": q_media_pixel_stats,
        "media_audio_rms": q_media_audio_rms,
        "media_video_luma": q_media_video_luma,
        # --- fresh r5 green rows ---
        "fulltext_postings": q_fulltext_postings,
        "fulltext_corpus_stats": q_fulltext_corpus_stats,
        "fulltext_term_df": q_fulltext_term_df,
        "fulltext_doclen": q_fulltext_doclen,
        "fulltext_bm25_topk": q_fulltext_bm25_topk,
        "fulltext_bm25_conjunctive": q_fulltext_bm25_conjunctive,
        "fulltext_bm25_wand": q_fulltext_bm25_wand,
        "fulltext_wand_conjunctive": q_fulltext_wand_conjunctive,
        "fulltext_phrase_match": q_fulltext_phrase_match,
        "fulltext_more_like_this": q_fulltext_more_like_this,
        "fulltext_topk_snippets": q_fulltext_topk_snippets,
        "fulltext_bool": q_fulltext_bool,
        "fulltext_fuzzy": q_fulltext_fuzzy,
        "fulltext_search_after": q_fulltext_search_after,
        "fulltext_facets": q_fulltext_facets,
        "fulltext_phrase_topk": q_fulltext_phrase_topk,
        "fulltext_prefix_match": q_fulltext_prefix_match,
        "fulltext_lifecycle": q_fulltext_lifecycle,
        "fulltext_compacted": q_fulltext_compacted,
        "text_token_stats": q_text_token_stats,
        "text_quality": q_text_quality,
        "text_langid": q_text_langid,
        "text_fingerprint": q_text_fingerprint,
        "text_bpe_stats": q_text_bpe_stats,
        "text_repetition": q_text_repetition,
        "text_pii": q_text_pii,
        "text_pii_redact": q_text_pii_redact,
        "text_winnow": q_text_winnow,
        "text_source_stats": q_text_source_stats,
        "text_token_quantiles": q_text_token_quantiles,
        "text_sample_stratified": q_text_sample_stratified,
        "text_pack_sequences": q_text_pack_sequences,
    }


_PII_CORPUS_SQL = """
SELECT doc_id::BIGINT AS doc_id, text
  || CASE WHEN doc_id % 13 = 4
          THEN ' contact user' || doc_id::VARCHAR || '@example.com'
          ELSE '' END
  || CASE WHEN doc_id % 17 = 3
          THEN ' from 10.0.' || (doc_id % 256)::VARCHAR || '.7'
          ELSE '' END
  || CASE WHEN doc_id % 19 = 6
          THEN ' call +1-555-' || lpad((doc_id % 1000)::VARCHAR, 3, '0') || '-0199'
          ELSE '' END AS text
FROM documents
"""


def oracle_sql() -> dict[str, str]:
    from mee_spark.textops import PII_EMAIL_RE, PII_IPV4_RE, PII_PHONE_RE

    return {
        # media decode oracles: expected stats recomputed from the
        # payload GENERATION formulas (see the media block's comment) —
        # the codec decode paths are what the equality gates
        "media_pixel_stats": _media_pixel_stats_sql(),
        "media_audio_rms": _media_audio_rms_sql(),
        "media_video_luma": _media_video_luma_sql(),
        "fulltext_postings": f"""
WITH {_FULLTEXT_CTE}
SELECT term, doc_id, tf, dl FROM postings
""",
        "fulltext_corpus_stats": f"""
WITH {_FULLTEXT_CTE}
SELECT count(*)::BIGINT AS n_docs, round(avg(dl), 6) AS avgdl FROM doclen
""",
        "fulltext_term_df": f"""
WITH {_FULLTEXT_CTE}
SELECT term, count(*)::BIGINT AS df FROM postings GROUP BY 1
""",
        "fulltext_doclen": f"""
WITH {_FULLTEXT_CTE}
SELECT doc_id, dl FROM doclen
""",
        "fulltext_bm25_topk": _BM25_SQL,
        "fulltext_bm25_conjunctive": _bm25_sql_over(
            "SELECT doc_id, text FROM documents", BM25_QUERIES, conjunctive=True),
        "fulltext_bm25_wand": _BM25_SQL,
        "fulltext_wand_conjunctive": _bm25_sql_over(
            "SELECT doc_id, text FROM documents", BM25_QUERIES, conjunctive=True),
        "fulltext_fuzzy": f"""
WITH {_FULLTEXT_CTE},
fqs(query_id, query_text, k) AS (VALUES {", ".join(f"({q}, '{t}', {k})" for q, t, k in FUZZY_QUERIES)}),
fqt AS (SELECT DISTINCT query_id, k, unnest({_toks('query_text')}) AS term FROM fqs),
dict AS (SELECT DISTINCT term FROM postings),
expanded AS (
  SELECT DISTINCT q.query_id, q.k, d.term
  FROM fqt q JOIN dict d
    ON abs(length(d.term) - length(q.term)) <= 1
   AND levenshtein(d.term, q.term) <= 1),
dfreq AS (SELECT term, count(*)::BIGINT AS df FROM postings
          WHERE term IN (SELECT term FROM expanded) GROUP BY 1),
stats AS (SELECT count(*)::BIGINT AS n, avg(dl) AS avgdl FROM doclen),
contrib AS (
  SELECT q.query_id, q.k, p.doc_id,
         ln(1.0 + (s.n - d.df + 0.5) / (d.df + 0.5))
         * (p.tf * (1.2 + 1.0)) / (p.tf + 1.2 * (1.0 - 0.75 + 0.75 * p.dl / s.avgdl)) AS c
  FROM postings p JOIN expanded q USING (term) JOIN dfreq d USING (term) CROSS JOIN stats s),
fscored AS (SELECT query_id, k, doc_id, sum(c) AS score FROM contrib GROUP BY 1, 2, 3),
franked AS (
  SELECT query_id::INT AS query_id, doc_id, round(score, 6) AS score, k,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(score, 6) DESC, doc_id) AS rank
  FROM fscored)
SELECT query_id, rank, doc_id, score FROM franked WHERE rank <= k
""",
        "fulltext_search_after": f"""
WITH res AS (SELECT * FROM ({_bm25_sql_over("SELECT doc_id, text FROM documents",
                                            [(q, t, 2**31 - 1) for q, t, _ in BM25_QUERIES])})),
cursor AS (SELECT query_id, score AS c_score, doc_id AS c_doc
           FROM res WHERE rank = 5),
page AS (
  SELECT r.query_id, r.doc_id, r.score
  FROM res r JOIN cursor c USING (query_id)
  WHERE r.score < c.c_score
     OR (r.score = c.c_score AND r.doc_id > c.c_doc)),
pranked AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id) AS page_rank
  FROM page)
SELECT query_id, page_rank, doc_id, score FROM pranked WHERE page_rank <= 10
""",
        "fulltext_bool": f"""
WITH {_FULLTEXT_CTE},
bqs(query_id, must_text, not_text, k) AS (VALUES {", ".join(f"({q}, '{m}', '{n}', {k})" for q, m, n, k in BOOL_QUERIES)}),
mterms AS (SELECT DISTINCT query_id, k, unnest({_toks('must_text')}) AS term FROM bqs),
mn AS (SELECT query_id, count(*)::BIGINT AS n_terms FROM mterms GROUP BY 1),
nterms AS (SELECT DISTINCT query_id, unnest({_toks('not_text')}) AS term FROM bqs),
excl AS (SELECT DISTINCT n.query_id, p.doc_id
         FROM postings p JOIN nterms n USING (term)),
dfreq AS (SELECT term, count(*)::BIGINT AS df FROM postings
          WHERE term IN (SELECT term FROM mterms) GROUP BY 1),
stats AS (SELECT count(*)::BIGINT AS n, avg(dl) AS avgdl FROM doclen),
contrib AS (
  SELECT q.query_id, q.k, p.doc_id,
         ln(1.0 + (s.n - d.df + 0.5) / (d.df + 0.5))
         * (p.tf * (1.2 + 1.0)) / (p.tf + 1.2 * (1.0 - 0.75 + 0.75 * p.dl / s.avgdl)) AS c
  FROM postings p JOIN mterms q USING (term) JOIN dfreq d USING (term) CROSS JOIN stats s),
bscored AS (SELECT query_id, k, doc_id, sum(c) AS score,
                   count(*)::BIGINT AS matched
            FROM contrib GROUP BY 1, 2, 3),
bkept AS (
  SELECT s.* FROM bscored s JOIN mn USING (query_id)
  WHERE s.matched = mn.n_terms
    AND NOT EXISTS (SELECT 1 FROM excl e
                    WHERE e.query_id = s.query_id AND e.doc_id = s.doc_id)),
branked AS (
  SELECT query_id::INT AS query_id, doc_id, round(score, 6) AS score, k,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(score, 6) DESC, doc_id) AS rank
  FROM bkept)
SELECT query_id, rank, doc_id, score FROM branked WHERE rank <= k
""",
        "fulltext_topk_snippets": f"""
WITH res AS (SELECT * FROM ({_BM25_SQL})),
sdocs AS (SELECT doc_id, {_toks('text')} AS toks FROM documents),
spos AS (SELECT doc_id, unnest(toks) AS term,
                generate_subscripts(toks, 1) - 1 AS p FROM sdocs),
sqs(query_id, query_text, k) AS (VALUES {", ".join(f"({q}, '{t}', {k})" for q, t, k in BM25_QUERIES)}),
sqt AS (SELECT DISTINCT query_id, unnest({_toks('query_text')}) AS term FROM sqs),
shits AS (SELECT q.query_id, p.doc_id, min(p.p) AS hit_pos
          FROM spos p JOIN sqt q USING (term) GROUP BY 1, 2)
SELECT r.query_id, r.rank, r.doc_id, r.score,
       h.hit_pos::BIGINT AS hit_pos,
       array_to_string(list_slice(d.toks,
                                  greatest(h.hit_pos - 2, 1),
                                  h.hit_pos + 4), ' ') AS snippet
FROM res r
JOIN shits h ON r.query_id = h.query_id AND r.doc_id = h.doc_id
JOIN sdocs d ON d.doc_id = r.doc_id
""",
        "fulltext_facets": f"""
WITH docs AS (SELECT doc_id, lang, {_toks('text')} AS toks FROM documents),
tok AS (SELECT DISTINCT doc_id, unnest(toks) AS term FROM docs),
fqs(query_id, query_text, k) AS (VALUES {", ".join(f"({q}, '{t}', {k})" for q, t, k in BM25_QUERIES)}),
fqt AS (SELECT DISTINCT query_id, unnest({_toks('query_text')}) AS term FROM fqs),
matched AS (SELECT DISTINCT q.query_id, t.doc_id
            FROM tok t JOIN fqt q USING (term))
SELECT m.query_id::INT AS query_id, d.lang, count(*)::BIGINT AS n_docs
FROM matched m JOIN docs d USING (doc_id)
GROUP BY 1, 2
""",
        "fulltext_more_like_this": f"""
WITH {_FULLTEXT_CTE},
seeds(seed_id, sdoc) AS (VALUES {", ".join(f"({s}, {d})" for s, d in MLT_SEEDS)}),
stats AS (SELECT count(*)::BIGINT AS n, avg(dl) AS avgdl FROM doclen),
sterm AS (SELECT s.seed_id, p.term, p.tf
          FROM postings p JOIN seeds s ON p.doc_id = s.sdoc),
dfq AS (SELECT term, count(*)::BIGINT AS df FROM postings
        WHERE term IN (SELECT term FROM sterm) GROUP BY 1),
tsel AS (
  SELECT st.seed_id, st.term,
         round(st.tf::DOUBLE * ln(1.0 + (s.n - d.df + 0.5) / (d.df + 0.5)), 6) AS tfidf
  FROM sterm st JOIN dfq d USING (term) CROSS JOIN stats s),
qt AS (SELECT seed_id, term FROM (
  SELECT seed_id, term,
         row_number() OVER (PARTITION BY seed_id ORDER BY tfidf DESC, term) AS r
  FROM tsel) WHERE r <= 5),
contrib AS (
  SELECT q.seed_id, p.doc_id,
         ln(1.0 + (s.n - d.df + 0.5) / (d.df + 0.5))
         * (p.tf * (1.2 + 1.0)) / (p.tf + 1.2 * (1.0 - 0.75 + 0.75 * p.dl / s.avgdl)) AS c
  FROM postings p JOIN qt q USING (term) JOIN dfq d USING (term) CROSS JOIN stats s),
mscored AS (SELECT seed_id, doc_id, sum(c) AS score FROM contrib GROUP BY 1, 2),
mranked AS (
  SELECT c.seed_id::INT AS seed_id, c.doc_id, round(c.score, 6) AS score,
         row_number() OVER (PARTITION BY c.seed_id
                            ORDER BY round(c.score, 6) DESC, c.doc_id) AS rank
  FROM mscored c JOIN seeds s ON c.seed_id = s.seed_id
  WHERE c.doc_id <> s.sdoc)
SELECT seed_id, rank, doc_id, score FROM mranked WHERE rank <= 10
""",
        "fulltext_phrase_match": f"""
WITH {_phrase_cte()}
SELECT phrase_id, doc_id, phrase_tf FROM pmatch
""",
        "fulltext_phrase_topk": f"""
WITH {_phrase_cte()},
ranked AS (
  SELECT phrase_id, doc_id, phrase_tf,
         row_number() OVER (PARTITION BY phrase_id
                            ORDER BY phrase_tf DESC, doc_id) AS rank
  FROM pmatch)
SELECT phrase_id, doc_id, phrase_tf, rank FROM ranked WHERE rank <= 10
""",
        "fulltext_prefix_match": f"""
WITH {_FULLTEXT_CTE},
pre(prefix_id, prefix) AS (VALUES {", ".join(f"({i}, '{p}')" for i, p in PREFIX_QUERIES)})
SELECT pre.prefix_id::INT AS prefix_id, p.doc_id,
       count(DISTINCT p.term)::BIGINT AS n_terms,
       sum(p.tf)::BIGINT AS total_tf
FROM postings p JOIN pre ON p.term LIKE pre.prefix || '%'
GROUP BY 1, 2
""",
        "fulltext_lifecycle": _bm25_sql_over(_LC_CORPUS_SQL, LIFECYCLE_QUERIES),
        "fulltext_compacted": _bm25_sql_over(_LC_CORPUS_SQL, LIFECYCLE_QUERIES),
        "text_token_stats": f"""
WITH d AS (SELECT doc_id, {_toks('text')} AS toks FROM documents)
SELECT doc_id, len(toks)::BIGINT AS n_tokens,
       len(list_distinct(toks))::BIGINT AS n_distinct,
       round(coalesce(list_sum(list_transform(toks, x -> length(x)::DOUBLE)), 0.0)
             / greatest(len(toks), 1), 6) AS mean_token_len
FROM d
""",
        "text_quality": _text_quality_sql(),
        "text_langid": _text_langid_sql(),
        "text_fingerprint": f"""
WITH d AS (SELECT doc_id, array_to_string({_toks('text')}, ' ') AS norm FROM documents)
SELECT doc_id, md5(norm) AS fp, {_hash15('norm')} AS fp_hash FROM d
""",
        "text_bpe_stats": _BPE_SQL,
        "text_pii": f"""
WITH pii AS ({_PII_CORPUS_SQL})
SELECT doc_id,
       len(regexp_extract_all(text, '{PII_EMAIL_RE}'))::BIGINT AS n_emails,
       len(regexp_extract_all(text, '{PII_IPV4_RE}'))::BIGINT AS n_ipv4,
       len(regexp_extract_all(text, '{PII_PHONE_RE}'))::BIGINT AS n_phones,
       (len(regexp_extract_all(text, '{PII_EMAIL_RE}'))
        + len(regexp_extract_all(text, '{PII_IPV4_RE}'))
        + len(regexp_extract_all(text, '{PII_PHONE_RE}'))) > 0 AS has_pii
FROM pii
""",
        "text_pii_redact": f"""
WITH pii AS ({_PII_CORPUS_SQL})
SELECT doc_id,
       regexp_replace(regexp_replace(regexp_replace(text,
           '{PII_EMAIL_RE}', '<EMAIL>', 'g'),
           '{PII_IPV4_RE}', '<IP>', 'g'),
           '{PII_PHONE_RE}', '<PHONE>', 'g') AS text_redacted
FROM pii
""",
        "text_repetition": f"""
WITH d AS (SELECT doc_id, {_toks('text')} AS toks FROM documents),
t AS (SELECT doc_id, len(toks)::BIGINT AS n_tokens,
             len(list_distinct(toks))::BIGINT AS n_distinct, toks FROM d),
bgc AS (
  SELECT doc_id, bg, count(*)::BIGINT AS c FROM (
    SELECT doc_id,
           list_extract(toks, i) || ' ' || list_extract(toks, i + 1) AS bg
    FROM t, LATERAL unnest(generate_series(1, len(toks) - 1)) AS u(i)
    WHERE len(toks) >= 2)
  GROUP BY 1, 2),
agg AS (SELECT doc_id, max(c) AS top_bg, sum(c) AS n_bg FROM bgc GROUP BY 1)
SELECT t.doc_id, t.n_tokens,
       floor((t.n_tokens - t.n_distinct) * 1000000
             / greatest(t.n_tokens, 1))::BIGINT AS dup_token_ppm,
       floor(coalesce(a.top_bg, 0) * 1000000
             / greatest(coalesce(a.n_bg, 0), 1))::BIGINT AS top_bigram_ppm
FROM t LEFT JOIN agg a USING (doc_id)
""",
        "text_winnow": _WINNOW_SQL,
        "text_source_stats": _source_stats_sql(),
        "text_token_quantiles": _TOKEN_QUANTILES_SQL,
        # thresholds are int(rate * 2^32) — the same truncation the Spark
        # operator applies, so keep-sets are bit-identical
        "text_sample_stratified": f"""
WITH d AS (SELECT doc_id::BIGINT AS doc_id, lang, source,
                  n_chars::BIGINT AS n_chars,
                  {_knuth_u32_sql('doc_id')} AS u
           FROM documents)
SELECT doc_id, lang, source, n_chars FROM d
WHERE u < CASE lang WHEN 'en' THEN {int(0.9 * (1 << 32))}
                    WHEN 'de' THEN {int(0.5 * (1 << 32))}
                    WHEN 'zh' THEN {int(0.25 * (1 << 32))}
                    ELSE {int(0.1 * (1 << 32))} END
""",
        "text_pack_sequences": f"""
WITH d AS (SELECT doc_id::BIGINT AS doc_id,
                  len({_toks('text')})::BIGINT AS n_tokens,
                  floor(({_knuth_u32_sql('doc_id')}) * 8
                        / 4294967296)::BIGINT AS bucket
           FROM documents),
c AS (SELECT doc_id, bucket, n_tokens,
             coalesce(sum(n_tokens) OVER (
               PARTITION BY bucket ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
      FROM d)
SELECT doc_id, bucket, floor(cb / 256)::BIGINT AS seq, n_tokens,
       (cb - floor(cb / 256)::BIGINT * 256)::BIGINT AS seq_offset
FROM c
""",
        "text_vocab_topk": f"""
WITH t AS (SELECT lang, unnest({_toks('text')}) AS token FROM documents),
c AS (SELECT lang, token, count(*)::BIGINT AS cnt FROM t GROUP BY 1, 2)
SELECT lang, token, cnt,
       row_number() OVER (PARTITION BY lang
                          ORDER BY cnt DESC, token)::BIGINT AS rank
FROM c QUALIFY rank <= 20
""",
        "dedup_coverage": f"""
WITH {_SHINGLE_CTE},
dfreq AS (SELECT shingle, count(*)::BIGINT AS df FROM sh GROUP BY 1)
SELECT doc_id, count(*)::BIGINT AS n_shingles,
       sum(CASE WHEN df > 1 THEN 1 ELSE 0 END)::BIGINT AS dup_shingles,
       floor(sum(CASE WHEN df > 1 THEN 1 ELSE 0 END) * 1000000
             / count(*))::BIGINT AS dup_ppm
FROM sh JOIN dfreq USING (shingle)
GROUP BY doc_id
""",
        "dedup_winnow": _WINNOW_PAIRS_SQL,
        # transitive closure of the symmetric pair graph; cluster_id =
        # least reachable doc_id (matches min-label propagation exactly)
        "dedup_clusters": f"""
WITH RECURSIVE pairs AS ({_WINNOW_PAIRS_SQL}),
edges AS (SELECT doc_id_a AS src, doc_id_b AS dst FROM pairs
          UNION SELECT doc_id_b, doc_id_a FROM pairs),
reach(src, dst) AS (
    SELECT src, dst FROM edges
    UNION
    SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
)
SELECT src::BIGINT AS doc_id,
       least(src, min(dst))::BIGINT AS cluster_id
FROM reach GROUP BY src
""",
        "pipeline_curate": _curate_sql(),
        "dedup_exact": f"""
WITH d AS (SELECT doc_id::BIGINT AS doc_id,
                  {_hash15("array_to_string(" + _toks('text') + ", ' ')")} AS fp
           FROM documents)
SELECT min(doc_id) AS doc_id, count(*)::BIGINT AS n_dupes FROM d GROUP BY fp
""",
        "dedup_ngram_jaccard": _NGRAM_JACCARD_SQL,
        "dedup_decontaminate": f"""
WITH d AS (SELECT doc_id::BIGINT AS doc_id, {_toks('text')} AS toks FROM documents),
dg AS (SELECT doc_id, unnest(list_distinct(
  [array_to_string(toks[i:i+7], ' ') for i in range(1, greatest(len(toks) - 7, 1) + 1)]
  )) AS gram FROM d),
dsh AS (SELECT DISTINCT doc_id, {_hash15('gram')} AS shingle FROM dg WHERE length(gram) > 0),
p AS (SELECT doc_id AS probe_id, toks[1:40] AS ptoks FROM d WHERE doc_id % 97 = 11),
pg AS (SELECT probe_id, unnest(list_distinct(
  [array_to_string(ptoks[i:i+7], ' ') for i in range(1, greatest(len(ptoks) - 7, 1) + 1)]
  )) AS gram FROM p),
psh AS (SELECT DISTINCT probe_id, {_hash15('gram')} AS shingle FROM pg WHERE length(gram) > 0),
psz AS (SELECT probe_id, count(*)::BIGINT AS probe_ngrams FROM psh GROUP BY 1),
shared AS (SELECT ps.probe_id, ds.doc_id, count(*)::BIGINT AS shared_ngrams
           FROM dsh ds JOIN psh ps USING (shingle) GROUP BY 1, 2)
SELECT s.probe_id, s.doc_id, s.shared_ngrams, z.probe_ngrams,
       round(s.shared_ngrams / z.probe_ngrams::DOUBLE, 6) AS frac
FROM shared s JOIN psz z USING (probe_id)
""",
        "dedup_minhash_lsh": _MINHASH_LSH_SQL,
        "dedup_simhash": _SIMHASH_SQL,
        "dedup_simhash_pairs": _SIMHASH_PAIRS_SQL,
        "dedup_embedding": _EMB_DUP_SQL,
        "dedup_embedding_lsh": _emb_lsh_dup_sql(),
        "ann_bruteforce": _ANN_BRUTE_SQL,
        "ann_lsh": _ann_lsh_sql(),
        "ann_ivf": _ann_ivf_sql(),
        "rel_lookup_join": """
SELECT o.o_orderkey::BIGINT AS order_id, o.o_custkey::BIGINT AS customer_id,
       coalesce(c.c_name, 'unknown') AS customer_name,
       round(o.o_totalprice, 2) AS total_price
FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
""",
        "rel_multihop_join": """
SELECT n.n_name AS nation, count(*)::BIGINT AS n_items,
       round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY 1
""",
        "rel_nested_collect": """
SELECT o.o_orderkey::BIGINT AS order_id,
       coalesce(c.n_items, 0)::BIGINT AS n_items,
       coalesce(c.part_keys, '') AS part_keys
FROM orders o LEFT JOIN (
  SELECT l_orderkey, count(*)::BIGINT AS n_items,
         array_to_string(list_sort(list(l_partkey::BIGINT))[1:50], ',') AS part_keys
  FROM lineitem GROUP BY 1) c ON o.o_orderkey = c.l_orderkey
""",
        "rel_filter_predicates": """
SELECT l_returnflag, l_linestatus, count(*)::BIGINT AS n_rows,
       round(sum(l_quantity), 2) AS sum_qty
FROM lineitem
WHERE l_returnflag <> 'R' AND l_linestatus IN ('O', 'F')
  AND l_quantity >= 5 AND l_quantity < 45 AND l_discount > 0.01
GROUP BY 1, 2
""",
        "rel_decorrelated_count": """
SELECT c.c_custkey::BIGINT AS customer_id,
       coalesce(o.n_open, 0)::BIGINT AS n_open_orders
FROM customer c LEFT JOIN (
  SELECT o_custkey, count(*)::BIGINT AS n_open FROM orders
  WHERE o_orderstatus <> 'F' GROUP BY 1) o ON c.c_custkey = o.o_custkey
""",
        "rel_scalar_folds": """
SELECT l_orderkey::BIGINT AS order_id, l_linenumber::BIGINT AS line_no,
       round(least(l_extendedprice, l_quantity * 1000.0 + l_tax * 100.0)
             + (-l_discount * 50.0), 6) AS folded,
       round(abs(l_discount - l_tax), 6) AS abs_diff,
       round(greatest(l_discount, l_tax), 6) AS max_rate
FROM lineitem
""",
        "rel_topk_per_group": """
WITH r AS (SELECT o_custkey, o_orderkey, o_totalprice,
                  row_number() OVER (PARTITION BY o_custkey
                                     ORDER BY o_totalprice DESC, o_orderkey) AS rank
           FROM orders)
SELECT o_custkey::BIGINT AS customer_id, rank, o_orderkey::BIGINT AS order_id,
       round(o_totalprice, 2) AS total_price
FROM r WHERE rank <= 3
""",
        "rel_selfjoin_roles": """
SELECT u.user_id::BIGINT AS user_id,
       coalesce(p.purchase_total, 0.0) AS purchase_total,
       coalesce(c.click_count, 0)::BIGINT AS click_count
FROM (SELECT DISTINCT user_id FROM events) u
LEFT JOIN (SELECT user_id, round(sum(value), 2) AS purchase_total
           FROM events WHERE event_type = 'purchase' GROUP BY 1) p USING (user_id)
LEFT JOIN (SELECT user_id, count(*)::BIGINT AS click_count
           FROM events WHERE event_type = 'click' GROUP BY 1) c USING (user_id)
""",
        "rel_cdc_normalize": """
WITH m AS (
  SELECT event_id::BIGINT AS event_id,
         CASE WHEN event_type = 'purchase' THEN 'INSERT'
              WHEN event_type IN ('click', 'view') THEN 'UPDATE'
              WHEN event_type = 'signup' THEN 'DELETE'
              ELSE 'OTHER' END AS op,
         value
  FROM events)
SELECT event_id, op,
       CASE WHEN op = 'UPDATE' AND value > 10.0 THEN 'INSERT'
            WHEN op = 'UPDATE' AND NOT (value > 10.0) THEN 'DELETE'
            ELSE op END AS normalized_op
FROM m WHERE op IN ('INSERT', 'UPDATE', 'DELETE')
""",
        "rel_diff_lag": """
WITH l AS (
  SELECT event_id::BIGINT AS event_id, user_id::BIGINT AS user_id, value,
         lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM events)
SELECT event_id, user_id, round(coalesce(prev, 0.0), 6) AS prev_value,
       CASE WHEN prev IS NULL THEN 'FIRST'
            WHEN prev <> value THEN 'CHANGED'
            ELSE 'SAME' END AS change
FROM l
""",
        # parse_trigger('~DELETE') == {INSERT, UPDATE}; the expected op set
        # is spelled literally here (NOT via the parser) so the oracle stays
        # independent of the code under test
        "rel_cdc_trigger": """
WITH m AS (
  SELECT event_id::BIGINT AS event_id,
         CASE WHEN event_type = 'purchase' THEN 'INSERT'
              WHEN event_type IN ('click', 'view') THEN 'UPDATE'
              WHEN event_type = 'signup' THEN 'DELETE'
              ELSE 'OTHER' END AS op
  FROM events)
SELECT event_id, op FROM m WHERE op IN ('INSERT', 'UPDATE')
""",
        "rel_date_arithmetic": """
SELECT event_id::BIGINT AS event_id,
       strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
       strftime(ts::DATE - INTERVAL 1 DAY, '%Y-%m-%d') AS yesterday,
       strftime(ts + INTERVAL 1 WEEK, '%Y-%m-%d %H:%M:%S') AS plus_week,
       strftime(ts - INTERVAL 1 MONTH, '%Y-%m-%d %H:%M:%S') AS minus_month
FROM events
""",
        "rel_date_ranges": """
WITH spans AS (SELECT user_id::BIGINT AS user_id,
                      min(ts::DATE) AS d0, max(ts::DATE) AS d1
               FROM events GROUP BY 1)
SELECT user_id,
       strftime(unnest(generate_series(d0, d1, INTERVAL 1 DAY)), '%Y-%m-%d') AS day
FROM spans
""",
        # floor(epoch(ts)) mirrors Spark's cast(ts as long) truncation
        "rel_sessionize": """
WITH e AS (
  SELECT event_id::BIGINT AS event_id, user_id::BIGINT AS user_id, ts,
         floor(epoch(ts))::BIGINT
           - lag(floor(epoch(ts))::BIGINT)
             OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap
  FROM events)
SELECT event_id, user_id,
       (sum(CASE WHEN gap IS NULL OR gap > 1800 THEN 1 ELSE 0 END)
          OVER (PARTITION BY user_id ORDER BY ts, event_id
                ROWS UNBOUNDED PRECEDING))::BIGINT AS session_id
FROM e
""",
        "rel_rolling_stats": """
SELECT event_id::BIGINT AS event_id, user_id::BIGINT AS user_id,
       round(avg(value) OVER w, 6) AS moving_avg,
       round(max(value) OVER w, 6) AS running_max,
       (count(*) OVER w)::BIGINT AS frame_n
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
""",
        # streaming gates: complete-mode tumbling totals == the batch
        # window aggregation; exactly-once dedup output == DISTINCT
        "stream_windowed_counts": """
SELECT date_trunc('hour', ts) AS window_start,
       event_type,
       count(*)::BIGINT AS n
FROM events GROUP BY 1, 2
""",
        "stream_dedup_urls": """
SELECT DISTINCT 'doc://' || source || '/' || lang AS url FROM documents
""",
    }
