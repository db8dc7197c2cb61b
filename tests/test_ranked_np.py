"""``bm25.ranked_np``, the driver's ranking of scored rows, is the numpy
twin of ``bm25.ranked``, the Spark window rank."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from mee_spark.bm25 import ranked, ranked_np


def _rows(seed: int) -> pd.DataFrame:
    """Scored rows of 6 queries: scores on a coarse grid plus noise far
    below the 6th digit, so many rows tie once rounded; per-query k from
    1 to far above the query's candidate count."""
    rng = np.random.default_rng(seed)
    n = 400
    query_id = rng.integers(0, 6, n).astype(np.int32)
    k = np.array([1, 3, 10, 50, 1000, 7], dtype=np.int32)[query_id]
    score = (np.round(rng.uniform(0, 3, n), 2)
             + rng.uniform(-4e-7, 4e-7, n) * rng.integers(0, 2, n))
    doc_id = rng.permutation(10 * n)[:n].astype(np.int64)
    return pd.DataFrame({"query_id": query_id, "k": k, "doc_id": doc_id,
                         "score": score})


@pytest.mark.parametrize("round_digits", [6, None], ids=["round6", "unrounded"])
def test_ranked_np_equals_ranked(spark, round_digits):
    pdf = _rows(7)
    rounded = pdf["score"].round(6)
    assert rounded.duplicated().sum() > 50  # ties the doc_id order must break
    assert pdf.groupby("query_id").size().max() < 1000  # a k above the rows
    want = sorted(tuple(r) for r in ranked(
        spark.createDataFrame(pdf), round_digits, F.col("k")).collect())
    q, rank, doc, score = ranked_np(
        pdf["query_id"].to_numpy(), pdf["doc_id"].to_numpy(),
        pdf["score"].to_numpy(), pdf["k"].to_numpy(), round_digits)
    have = sorted(zip(q.tolist(), rank.tolist(), doc.tolist(), score.tolist()))
    assert have == want


def test_ranked_np_constant_limit_and_order():
    """A constant ``limit``; rows come back by key, then rank."""
    key = np.array([2, 1, 2, 1, 2])
    doc = np.array([5, 4, 3, 2, 1])
    score = np.array([1.0, 2.0, 1.0, 2.0, 0.5])
    q, rank, d, s = ranked_np(key, doc, score, 2, None)
    assert q.tolist() == [1, 1, 2, 2]
    assert rank.tolist() == [1, 2, 1, 2]
    assert d.tolist() == [2, 4, 3, 5]  # tied scores: doc_id ascending
    assert s.tolist() == [2.0, 2.0, 1.0, 1.0]
    empty = ranked_np(key[:0], doc[:0], score[:0], 3, 6)
    assert all(len(a) == 0 for a in empty)
