"""Delta + varbyte posting-list codec with block-max metadata (pure numpy).

The index's physical format (north star: "delta-encoded, varbyte-compressed
blocks with per-block max-score metadata"). Everything here is vectorized
numpy — this code runs inside Arrow UDF workers on executor nodes, so a
Python-level loop per posting would dominate build time at scale.

Layout per (term, docID-range) segment row:
  * ``doc_ids`` — strictly ascending; stored as first-difference deltas
    (previous initialized to 0), varbyte.
  * ``tfs``, ``dls`` — raw values, varbyte. dl rides with each posting so
    scoring is self-contained (no doclen join/broadcast at 10^12 docs).
  * block metadata, one entry per ``block_size`` postings:
    ``block_last_doc`` (skip pointers), ``block_max_tf`` and
    ``block_min_dl``. The BM25 block upper bound is derived at QUERY
    time as idf·tnorm(max_tf, min_dl, current_avgdl): tnorm is monotone
    increasing in tf and decreasing in dl, so this dominates every
    member under ANY avgdl. Storing tnorm itself would bake in the
    build-time avgdl — a later incremental generation shifts the corpus
    avgdl and would silently invalidate the bound (wrong WAND pruning).
    idf is likewise applied at query time from current global df, so
    merges never invalidate block metadata.
"""

from __future__ import annotations

import numpy as np

from mee_spark.bm25 import tnorm_np
from mee_spark.config import BLOCK_SIZE

def varbyte_encode_lens(values: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized varbyte -> (uint8 byte stream, per-value byte counts).

    The per-value counts let a caller that encodes MANY posting runs in
    one pass slice the stream back into per-run blobs by offset — the
    whole-group encoder in segments.py does exactly that (round 7)."""
    v = np.ascontiguousarray(values, dtype=np.uint64)
    if v.size == 0:
        return np.empty(0, dtype=np.uint8), np.empty(0, dtype=np.int64)
    # number of 7-bit groups per value (>=1)
    nbits = np.zeros(v.shape, dtype=np.int64)
    tmp = v.copy()
    nz = tmp > 0
    while nz.any():
        nbits[nz] += 1
        tmp >>= np.uint64(7)
        nz = tmp > 0
    nbytes = np.maximum(nbits, 1)
    total = int(nbytes.sum())
    out = np.empty(total, dtype=np.uint8)
    ends = np.cumsum(nbytes)
    starts = ends - nbytes
    # byte j of value i = (v[i] >> 7j) & 0x7f, continuation bit unless last
    pos = np.arange(total, dtype=np.int64)
    owner = np.searchsorted(ends - 1, pos)  # which value each byte belongs to
    j = (pos - starts[owner]).astype(np.uint64)
    out[:] = ((v[owner] >> (j * np.uint64(7))) & np.uint64(0x7F)).astype(np.uint8)
    is_last = pos == (ends[owner] - 1)
    out[~is_last] |= 0x80
    return out, nbytes


def varbyte_encode(values: np.ndarray) -> bytes:
    """Vectorized varbyte (LEB128-style: 7 data bits, MSB=continuation)."""
    out, _ = varbyte_encode_lens(values)
    return out.tobytes()


def _varbyte_runs(blobs) -> tuple[np.ndarray, np.ndarray]:
    """Many varbyte blobs -> (uint64 values of all blobs, values per blob).

    Linear over the concatenated byte stream: a value ends at each byte
    under 0x80, so value starts come from the terminal-byte positions (no
    searchsorted), and each continuation byte is folded in with one masked
    shift per byte position. When every byte is under 0x80 (every value
    below 128 — most deltas, tfs and many dls) the bytes ARE the values."""
    blobs = list(blobs)
    nbytes = np.fromiter(map(len, blobs), dtype=np.int64, count=len(blobs))
    raw = np.frombuffer(b"".join(blobs), dtype=np.uint8)
    if raw.size == 0:
        return np.empty(0, dtype=np.uint64), nbytes
    if raw.max() < 0x80:
        return raw.astype(np.uint64), nbytes
    is_last = raw < 0x80
    ends = np.flatnonzero(is_last)
    starts = np.empty_like(ends)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    lens = ends - starts + 1
    vals = (raw[starts] & 0x7F).astype(np.uint64)
    for j in range(1, int(lens.max())):
        m = np.flatnonzero(lens > j)
        vals[m] |= (raw[starts[m] + j] & 0x7F).astype(np.uint64) << np.uint64(7 * j)
    # values per blob = terminal bytes inside the blob's byte span
    term_cum = np.zeros(raw.size + 1, dtype=np.int64)
    np.cumsum(is_last, out=term_cum[1:])
    bounds = np.zeros(len(blobs) + 1, dtype=np.int64)
    np.cumsum(nbytes, out=bounds[1:])
    return vals, np.diff(term_cum[bounds])


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


def block_ub(max_tf: np.ndarray, min_dl: np.ndarray, avgdl: float,
             k1: float | None = None, b: float | None = None) -> np.ndarray:
    """Per-block tnorm upper bound under the CURRENT corpus avgdl."""
    kwargs = {}
    if k1 is not None:
        kwargs["k1"] = k1
    if b is not None:
        kwargs["b"] = b
    return tnorm_np(np.asarray(max_tf), np.asarray(min_dl), avgdl, **kwargs)


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


def decode_postings_batch(doc_blobs, tf_blobs=None, dl_blobs=None):
    """Decode many posting runs at once -> (docs, tfs, dls, counts).

    The counterpart of the whole-group encoder in segments.py: every
    run's blobs are decoded in one pass over the concatenated streams and
    returned back to back, ``counts[i]`` postings for run ``i``. Doc-id
    deltas restart at each run (a run's first delta is its absolute doc
    id), so one cumsum over the whole stream minus the running total
    before each run recovers every run's doc ids; uint64 wraparound keeps
    the subtraction exact however large the running total grows.
    ``tfs``/``dls`` are None when their blobs are not given."""
    deltas, counts = _varbyte_runs(doc_blobs)
    cs = np.zeros(len(deltas) + 1, dtype=np.uint64)
    np.cumsum(deltas, out=cs[1:])
    run_starts = np.cumsum(counts) - counts
    docs = (cs[1:] - np.repeat(cs[run_starts], counts)).astype(np.int64)
    tfs = None if tf_blobs is None else _varbyte_runs(tf_blobs)[0].astype(np.int64)
    dls = None if dl_blobs is None else _varbyte_runs(dl_blobs)[0].astype(np.int64)
    return docs, tfs, dls, counts


def decode_postings(row) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Segment row (mapping or object with blob fields) -> (docs, tfs, dls)."""
    get = row.get if hasattr(row, "get") else lambda k: getattr(row, k)
    docs, tfs, dls, _ = decode_postings_batch(
        [get("doc_ids_blob")], [get("tfs_blob")], [get("dls_blob")])
    return docs, tfs, dls
