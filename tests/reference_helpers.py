"""Per-run reference implementations the tests check the package against.

The package encodes a whole (bucket, range) group at once
(``segments.write_segment``) and scores with the vectorized exhaustive
kernel or WAND; these one-run-at-a-time encoders and the brute-force
scorer are the slow, obviously-correct counterparts. Only tests use them.
"""

from __future__ import annotations

import numpy as np

from mee_spark.codec import block_metadata, varbyte_decode, varbyte_encode_lens
from mee_spark.config import BLOCK_SIZE
from mee_spark.wand import TermCursor


def varbyte_encode(values: np.ndarray) -> bytes:
    """Vectorized varbyte (LEB128-style: 7 data bits, MSB=continuation)."""
    out, _ = varbyte_encode_lens(values)
    return out.tobytes()


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
