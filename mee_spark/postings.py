"""Posting-list construction as a declarative DataFrame plan.

The core dataflow the reference never had (it shipped documents to ES and
let Lucene do this — `modules/handlers/v1/commonhandler.py:68-83` just
calls ``es.index``): here it is three Catalyst-optimized operators:

    explode(tokens) → groupBy(term, doc_id).count() → attach dl

The groupBy gets map-side partial aggregation for free (hash agg with
partial+final), which is exactly SPIMI's in-memory combining phase; the
shuffle is the run-merge. Head-term skew at this step is a non-issue
because the aggregation key includes doc_id (cardinality ≈ corpus tokens,
uniformly spread); skew only matters downstream where we group by term —
handled there by explicit docID range partitioning (see segments.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Salt buckets of ``term_df``'s first aggregation stage.
SALT_BUCKETS: int = 16


def build_postings(docs: DataFrame) -> DataFrame:
    """(doc_id, tokens, dl) -> (term, doc_id, tf, dl).

    dl rides along with each posting so downstream segment scoring is
    self-contained (no doclen join at query time — at 10^12 docs a
    doclen broadcast is impossible and a join would shuffle the index).
    """
    return (
        docs.select("doc_id", "dl", F.explode("tokens").alias("term"))
        .groupBy("term", "doc_id", "dl")
        .agg(F.count("*").alias("tf"))
        .select("term", "doc_id", F.col("tf").cast("long").alias("tf"), "dl")
    )


def term_df(postings: DataFrame) -> DataFrame:
    """Document frequency per term: (term, df).

    Skew-aware two-stage (salted) aggregation per the north star: head
    terms ("the"-class, present in >30% of docs) would otherwise funnel
    their whole posting stream through one reducer. Stage 1 aggregates
    (term, salt) partial counts — salt derived from doc_id so it is
    deterministic; stage 2 sums the ≤SALT_BUCKETS partials per term.
    Map-side combine already bounds stage 1; the salt bounds the reduce.
    """
    return (
        postings
        .withColumn("_salt", (F.col("doc_id") % SALT_BUCKETS).cast("int"))
        .groupBy("term", "_salt").agg(F.count("*").alias("_partial"))
        .groupBy("term").agg(F.sum("_partial").alias("df"))
    )
