"""BM25 scoring math — single source of truth.

score(q, d) = Σ_{t ∈ q∩d} idf(t) · tnorm(tf, dl)
  idf(t)        = ln(1 + (N − df + 0.5) / (df + 0.5))      (Lucene variant)
  tnorm(tf, dl) = tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))

k1=1.2, b=0.75 per the north star. All math in float64. The same two
functions exist as Spark Column expressions (JVM, whole-stage codegen),
numpy (segment/WAND path), and plain Python (oracle) — rank-identity
between paths is a tested invariant.

``ranked`` is the single home of the tie-break rule: every Spark BM25
engine ranks its scored rows through it, by (rounded score desc, doc_id
asc). The numpy kernels select their local top-k by the same key, and
``ranked_np`` ranks rows scored on the driver by it.

Note tnorm is df-independent: block-max metadata stores max tnorm per
block, and idf is applied at query time from *current* global df — so
incremental segment merges never invalidate block metadata.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from mee_spark.config import B, K1


def idf_col(df_col: Column, n_docs: int | Column) -> Column:
    """``n_docs`` may be a driver scalar or a Column (round 7): passing
    the corpus-stats aggregate in-plan (broadcast 1-row cross join) lets
    a caller skip the separate stats collect() action; the float ops are
    identical either way, so scores are bit-identical."""
    nd = n_docs if isinstance(n_docs, Column) else F.lit(float(n_docs))
    return F.log(1.0 + (nd - df_col + 0.5) / (df_col + 0.5))


def tnorm_col(tf_col: Column, dl_col: Column, avgdl: float | Column,
              k1: float = K1, b: float = B) -> Column:
    ad = avgdl if isinstance(avgdl, Column) else F.lit(float(avgdl))
    denom = tf_col + k1 * (1.0 - b + b * dl_col / ad)
    return tf_col * (k1 + 1.0) / denom


def idf_np(df: np.ndarray | float, n_docs: int) -> np.ndarray | float:
    return np.log(1.0 + (float(n_docs) - df + 0.5) / (df + 0.5))


def tnorm_np(tf: np.ndarray, dl: np.ndarray, avgdl: float,
             k1: float = K1, b: float = B) -> np.ndarray:
    tf = tf.astype(np.float64)
    dl = dl.astype(np.float64)
    return tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * dl / avgdl))


def idf_py(df: int, n_docs: int) -> float:
    return math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))


def tnorm_py(tf: int, dl: int, avgdl: float,
             k1: float = K1, b: float = B) -> float:
    return tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * dl / avgdl))


def ranked(scored: DataFrame, round_digits: int | None, limit: Column | int,
           key: str = "query_id") -> DataFrame:
    """(key, doc_id, score, ...) -> (key, rank, doc_id, score): rank ≤
    ``limit`` per ``key``, ordered by (score desc, doc_id asc).

    With ``round_digits`` set, both the ranking key and the returned
    score are rounded to that many digits: the engines sum float terms in
    different orders, so only the rounded score is comparable across
    them, and the doc_id tie-break makes the order deterministic.
    ``limit`` is a constant or a per-row Column (the queries' ``k``)."""
    score = (F.round(F.col("score"), round_digits)
             if round_digits is not None else F.col("score"))
    w = Window.partitionBy(key).orderBy(score.desc(), F.col("doc_id").asc())
    lim = limit if isinstance(limit, Column) else F.lit(limit)
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= lim)
        .select(F.col(key).cast("int").alias(key), "rank",
                F.col("doc_id").cast("long").alias("doc_id"),
                score.alias("score"))
    )


def ranked_np(key: np.ndarray, doc_id: np.ndarray, score: np.ndarray,
              limit: np.ndarray | int, round_digits: int | None
              ) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """numpy twin of ``ranked`` for rows already on the driver -> (key,
    rank, doc_id, score) arrays, sorted by key then rank: rank ≤ ``limit``
    per key, by (score desc, doc_id asc), the score rounded like the
    kernels round it (``np.round``; on their already-rounded scores
    ``F.round`` is an identity too). ``limit`` is a constant or one value
    per row (the queries' ``k``)."""
    if round_digits is not None:
        score = np.round(score, round_digits)
    order = np.lexsort((doc_id, -score, key))
    key, doc_id, score = key[order], doc_id[order], score[order]
    limit = np.broadcast_to(limit, len(order))[order]
    starts = np.flatnonzero(np.append(True, key[1:] != key[:-1]))
    rank = np.arange(1, len(key) + 1) - np.repeat(
        starts, np.diff(np.append(starts, len(key))))
    keep = rank <= limit
    return key[keep], rank[keep], doc_id[keep], score[keep]
