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
