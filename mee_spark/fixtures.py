"""Deterministic synthetic corpus + query set (FIXTURES.md §1–§2).

The pages table mirrors BASELINE.json's input_hint schema:
``(url string, warc_ts timestamp, html binary, text string, lang string)``.
Content is keyed by row index (never by scale), so the tiny corpus is a
strict prefix of larger ones. Zipfian term draw (s≈1.07) over a 10k-word
vocab guarantees head-term skew for exercising the skew-aware shuffle.

No wall-clock, no external data, fixed seed — every artifact is
reproducible bit-for-bit.
"""

from __future__ import annotations

import datetime

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

PAGES_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("warc_ts", TimestampType(), False),
        StructField("html", BinaryType(), False),
        StructField("text", StringType(), False),
        StructField("lang", StringType(), False),
    ]
)

QUERIES_SCHEMA = StructType(
    [
        StructField("query_id", IntegerType(), False),
        StructField("query_text", StringType(), False),
        StructField("k", IntegerType(), False),
    ]
)

VOCAB_SIZE = 10_000
_EPOCH = datetime.datetime(2026, 1, 1, 0, 0, 0)


def _zipf_weights(n: int, s: float = 1.07) -> np.ndarray:
    ranks = np.arange(1, n + 1, dtype=np.float64)
    w = ranks ** (-s)
    return w / w.sum()


_CUM_WEIGHTS = None


def _cum_weights() -> np.ndarray:
    global _CUM_WEIGHTS
    if _CUM_WEIGHTS is None:
        _CUM_WEIGHTS = np.cumsum(_zipf_weights(VOCAB_SIZE))
    return _CUM_WEIGHTS


def gen_pages_pandas(n_rows: int, start_row: int = 0, seed: int = 42) -> pd.DataFrame:
    """Generate rows [start_row, start_row+n_rows) of the pages table.

    Per-row content depends only on the row index (independent RNG stream
    per row via seed mixing), so any contiguous slice is reproducible.
    Zipf draws use inverse-CDF (searchsorted) — rng.choice(p=...) rebuilds
    the CDF per call, ~30x slower, which made >100k-doc bench corpora
    impractical to synthesize.
    """
    return gen_pages_for_indices(range(start_row, start_row + n_rows), seed)


def gen_pages_for_indices(indices, seed: int = 42) -> pd.DataFrame:
    """Page rows for an arbitrary index iterable — the same per-index RNG
    stream contract as contiguous generation, so a streaming source that
    delivers indices out of order (e.g. the rate source across partitions)
    still synthesizes byte-identical rows."""
    cum = _cum_weights()
    vocab = np.array([f"w{i:06d}" for i in range(VOCAB_SIZE)])
    rows = []
    for i in indices:
        i = int(i)
        rng = np.random.default_rng(seed * 1_000_003 + i)
        doclen = int(np.clip(rng.lognormal(np.log(120), 0.6), 5, 2000))
        toks = vocab[np.minimum(np.searchsorted(cum, rng.random(doclen)),
                                VOCAB_SIZE - 1)]
        text = " ".join(toks.tolist())
        site, page = i % 97, i
        url = f"https://example-{site:04d}.test/p/{page:06d}"
        title = f"page {page:06d}"
        html = (
            b"<html><head><title>" + title.encode() + b"</title></head><body><p>"
            + text.encode() + b"</p></body></html>"
        )
        lang_roll = (i * 2654435761) % 100
        lang = "en" if lang_roll < 90 else ("de" if lang_roll < 98 else "zh")
        rows.append((url, _EPOCH + datetime.timedelta(seconds=i), html, text, lang))
    return pd.DataFrame(rows, columns=["url", "warc_ts", "html", "text", "lang"])


def gen_pages(spark: SparkSession, n_rows: int, seed: int = 42,
              num_partitions: int = 8) -> DataFrame:
    """Distributed generator: each partition synthesizes its row slice.

    Uses mapInPandas so generation scales with the cluster instead of the
    driver (at bench scale the driver never materializes the corpus).
    """
    import math

    per = math.ceil(n_rows / num_partitions)
    bounds = [(p * per, min((p + 1) * per, n_rows)) for p in range(num_partitions)]
    bounds = [b for b in bounds if b[0] < b[1]]
    bdf = spark.createDataFrame(bounds, "lo long, hi long").repartition(len(bounds), "lo")

    def gen(batches):
        for pdf in batches:
            for lo, hi in zip(pdf["lo"], pdf["hi"]):
                yield gen_pages_pandas(int(hi) - int(lo), start_row=int(lo), seed=seed)

    return bdf.mapInPandas(gen, PAGES_SCHEMA)


def gen_queries_pandas(n_queries: int = 100, seed: int = 7,
                       corpus_rows: int = 1000) -> pd.DataFrame:
    """Reference query set (FIXTURES.md §2): 40×1-term, 30×2, 20×3, 10×4/5;
    mix of head terms (WAND pruning) and tail terms; 5 queries carry one
    out-of-vocabulary term; k=10 except five queries with k ∈ {1,5,100}."""
    rng = np.random.default_rng(seed)
    weights = _zipf_weights(VOCAB_SIZE)
    sizes = [1] * 40 + [2] * 30 + [3] * 20 + [4] * 5 + [5] * 5
    rows = []
    for qid in range(n_queries):
        n_terms = sizes[qid % len(sizes)]
        terms = []
        for t in range(n_terms):
            if rng.random() < 0.5:
                idx = int(rng.integers(0, 50))  # head term
            else:
                idx = int(rng.choice(VOCAB_SIZE, p=weights))
            terms.append(f"w{idx:06d}")
        if qid % 20 == 19:  # 5 of 100: one OOV term
            terms[-1] = f"zz{qid:04d}oov"
        k = 10
        if qid == 10:
            k = 1
        elif qid == 30:
            k = 5
        elif qid == 50:
            k = 100
        rows.append((qid, " ".join(terms), k))
    return pd.DataFrame(rows, columns=["query_id", "query_text", "k"])


def gen_queries(spark: SparkSession, n_queries: int = 100, seed: int = 7) -> DataFrame:
    return spark.createDataFrame(gen_queries_pandas(n_queries, seed), QUERIES_SCHEMA)
