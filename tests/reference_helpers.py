"""Per-run reference implementations the tests check the package against.

The package encodes a whole (bucket, range) group at once
(``segments.write_segment``) and scores with the vectorized exhaustive
kernel or WAND; these one-run-at-a-time encoders and the brute-force
scorer are the slow, obviously-correct counterparts. The Spark helpers
at the end build a docs/postings relation straight from pages, without
an index. Only tests use them.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mee_spark.bm25 import tnorm_np
from mee_spark.codec import _varbyte_runs, varbyte_encode_lens
from mee_spark.config import BLOCK_SIZE, IndexConfig
from mee_spark.docmap import assign_doc_ids
from mee_spark.textprep import extract_text, tokenize_col
from mee_spark.wand import TermCursor


def varbyte_encode(values: np.ndarray) -> bytes:
    """Vectorized varbyte (LEB128-style: 7 data bits, MSB=continuation)."""
    out, _ = varbyte_encode_lens(values)
    return out.tobytes()


def varbyte_decode(blob: bytes) -> np.ndarray:
    """Vectorized varbyte decode -> uint64 array."""
    return _varbyte_runs([blob])[0]


def delta_encode(doc_ids: np.ndarray) -> bytes:
    """Strictly-ascending doc_ids -> varbyte(first-differences)."""
    d = np.ascontiguousarray(doc_ids, dtype=np.uint64)
    if d.size == 0:
        return b""
    deltas = np.empty_like(d)
    deltas[0] = d[0]
    np.subtract(d[1:], d[:-1], out=deltas[1:])
    return varbyte_encode(deltas)


def delta_decode(blob: bytes) -> np.ndarray:
    deltas = varbyte_decode(blob)
    return np.cumsum(deltas, dtype=np.uint64)


def block_metadata(
    doc_ids: np.ndarray, tfs: np.ndarray, dls: np.ndarray,
    block_size: int = BLOCK_SIZE,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """-> (block_last_doc int64[], block_max_tf int64[], block_min_dl int64[])."""
    n = len(doc_ids)
    n_blocks = (n + block_size - 1) // block_size
    last = np.asarray(doc_ids, dtype=np.int64)[
        np.minimum(np.arange(1, n_blocks + 1) * block_size - 1, n - 1)
    ]
    starts = np.arange(n_blocks) * block_size
    max_tf = np.maximum.reduceat(np.asarray(tfs, dtype=np.int64), starts)
    min_dl = np.minimum.reduceat(np.asarray(dls, dtype=np.int64), starts)
    return last, max_tf, min_dl


def block_ub(max_tf: np.ndarray, min_dl: np.ndarray, avgdl: float) -> np.ndarray:
    """Per-block tnorm upper bound under the CURRENT corpus avgdl."""
    return tnorm_np(np.asarray(max_tf), np.asarray(min_dl), avgdl)


def encode_postings(
    doc_ids: np.ndarray, tfs: np.ndarray, dls: np.ndarray,
    block_size: int = BLOCK_SIZE,
) -> dict:
    """Full segment-row payload for one (term, range) posting run."""
    last, max_tf, min_dl = block_metadata(doc_ids, tfs, dls, block_size)
    return {
        "doc_ids_blob": delta_encode(doc_ids),
        "tfs_blob": varbyte_encode(np.asarray(tfs, dtype=np.uint64)),
        "dls_blob": varbyte_encode(np.asarray(dls, dtype=np.uint64)),
        "block_last_doc": last.tolist(),
        "block_max_tf": max_tf.tolist(),
        "block_min_dl": min_dl.tolist(),
        "n_postings": int(len(doc_ids)),
    }


def exhaustive_topk_np(cursors: list[TermCursor], k: int) -> list[tuple[int, float]]:
    """Brute-force union scoring over the same cursors (safety reference)."""
    cursors = sorted([c for c in cursors if c.n > 0], key=lambda c: c.term)
    if not cursors:
        return []
    scores: dict[int, float] = {}
    for c in cursors:
        for d, s in zip(c.docs.tolist(), c.scores.tolist()):
            scores[d] = scores.get(d, 0.0) + s
    ranked = sorted(scores.items(), key=lambda x: (-x[1], x[0]))
    return ranked[:k]


def build_docs(pages: DataFrame, cfg: IndexConfig,
               docmap: DataFrame | None = None,
               use_html: bool = True) -> DataFrame:
    """pages -> (doc_id, url, tokens, dl), with the builders' doc ids,
    text extraction and tokenizer.

    When ``docmap`` is None, the assignment is pinned with a LAZY
    localCheckpoint: assign_doc_ids has evaluate-once semantics, and a
    test may run several actions over the result."""
    if cfg.lang_filter:
        pages = pages.filter(F.col("lang") == cfg.lang_filter)
    if docmap is None:
        docmap = assign_doc_ids(pages, cfg.num_doc_partitions).localCheckpoint(
            eager=False)
    text_col = extract_text(F.col("html")) if use_html else F.col("text")
    docs = (
        pages.select("url", text_col.alias("_text"))
        .withColumn("tokens", tokenize_col(F.col("_text")))
        .withColumn("dl", F.size("tokens").cast("long"))
        .drop("_text")
        .join(docmap, "url")
    )
    return docs.select("doc_id", "url", "tokens", "dl")


def corpus_stats(docs: DataFrame) -> dict:
    """(N, avgdl) of a docs relation."""
    row = docs.agg(
        F.count("*").alias("n"), F.avg("dl").alias("avgdl")
    ).collect()[0]
    return {"N": int(row["n"]), "avgdl": float(row["avgdl"] or 0.0)}
