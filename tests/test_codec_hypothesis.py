"""Property-based codec tests (hypothesis): round-trips must hold for ALL
inputs, not just the seeds we thought of."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from mee_spark.codec import decode_postings, decode_postings_batch
from reference_helpers import (
    delta_decode,
    delta_encode,
    encode_postings,
    varbyte_decode,
    varbyte_encode,
)

uint64s = st.integers(min_value=0, max_value=2**64 - 1)


@settings(max_examples=200, deadline=None)
@given(st.lists(uint64s, max_size=500))
def test_varbyte_roundtrip(vals):
    arr = np.array(vals, dtype=np.uint64)
    assert np.array_equal(varbyte_decode(varbyte_encode(arr)), arr)


@settings(max_examples=200, deadline=None)
@given(st.lists(st.integers(min_value=1, max_value=2**32), min_size=1, max_size=500))
def test_delta_roundtrip_strictly_ascending(gaps):
    docs = np.cumsum(np.array(gaps, dtype=np.uint64))
    assert np.array_equal(delta_decode(delta_encode(docs)), docs)


@settings(max_examples=50, deadline=None)
@given(st.lists(uint64s, min_size=1, max_size=100))
def test_varbyte_encode_deterministic(vals):
    arr = np.array(vals, dtype=np.uint64)
    assert varbyte_encode(arr) == varbyte_encode(arr.copy())


# ------------------------------------------- batch decoder ≡ per-row decoder

def _runs(first_max: int, gap_max: int, val_min: int, val_max: int,
          max_len: int, first_min: int = 0):
    """Batches of posting runs: (doc_ids strictly ascending, tfs, dls)."""
    run = st.integers(min_value=1, max_value=max_len).flatmap(lambda n: st.tuples(
        st.integers(min_value=first_min, max_value=first_max),
        st.lists(st.integers(min_value=1, max_value=gap_max),
                 min_size=n - 1, max_size=n - 1),
        st.lists(st.integers(min_value=val_min, max_value=val_max),
                 min_size=n, max_size=n),
        st.lists(st.integers(min_value=val_min, max_value=val_max),
                 min_size=n, max_size=n)))
    return st.lists(run, min_size=1, max_size=40)


def _check_batch(batch):
    rows, want = [], []
    for first, gaps, tfs, dls in batch:
        docs = np.cumsum(np.array([first] + gaps, dtype=np.int64))
        rows.append(encode_postings(docs, np.array(tfs), np.array(dls)))
        want.append((docs, np.array(tfs, dtype=np.int64),
                     np.array(dls, dtype=np.int64)))
    docs, tfs, dls, counts = decode_postings_batch(
        [r["doc_ids_blob"] for r in rows], [r["tfs_blob"] for r in rows],
        [r["dls_blob"] for r in rows])
    assert counts.tolist() == [len(w[0]) for w in want]
    bounds = np.concatenate(([0], np.cumsum(counts)))
    for i, (row, w) in enumerate(zip(rows, want)):
        got = (docs[bounds[i]:bounds[i + 1]], tfs[bounds[i]:bounds[i + 1]],
               dls[bounds[i]:bounds[i + 1]])
        for g, one, exp in zip(got, decode_postings(row), w):
            assert np.array_equal(g, one) and np.array_equal(g, exp)
    return rows


@settings(max_examples=100, deadline=None)
@given(_runs(first_max=2**30, gap_max=2**20, val_min=1, val_max=2**16,
             max_len=1))
def test_batch_decode_single_posting_runs(batch):
    _check_batch(batch)


@settings(max_examples=100, deadline=None)
@given(_runs(first_max=127, gap_max=127, val_min=1, val_max=127, max_len=20))
def test_batch_decode_one_byte_fast_path(batch):
    # first doc, gaps, tfs and dls all < 128: the doc blob stores the
    # first doc and the gaps, so every encoded byte is under 0x80
    rows = _check_batch(batch)
    assert max(b"".join(r[c] for r in rows for c in
                        ("doc_ids_blob", "tfs_blob", "dls_blob"))) < 0x80


@settings(max_examples=100, deadline=None)
@given(_runs(first_max=2**20, gap_max=2**14, val_min=128, val_max=2**35,
             max_len=30))
def test_batch_decode_multibyte_tfs_dls(batch):
    _check_batch(batch)


@settings(max_examples=100, deadline=None)
@given(_runs(first_max=2**50, gap_max=2**33, val_min=1, val_max=2**20,
             max_len=30, first_min=2**40))
def test_batch_decode_doc_ids_past_2_40(batch):
    _check_batch(batch)


def test_batch_decode_all_one_byte_exact():
    """Deterministic fast-path case: every byte of every blob < 0x80."""
    batch = [(3, [1, 2, 5], [1, 2, 3, 4], [9, 8, 7, 6]), (0, [], [1], [1]),
             (100, [27], [127, 1], [5, 127])]
    rows = _check_batch(batch)
    assert all(max(r[c]) < 0x80 for r in rows
               for c in ("doc_ids_blob", "tfs_blob", "dls_blob"))


def test_batch_decode_empty_batch():
    docs, tfs, dls, counts = decode_postings_batch([], [], [])
    assert docs.size == tfs.size == dls.size == counts.size == 0
