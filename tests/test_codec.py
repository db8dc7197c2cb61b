"""Codec round-trip + block-max bound properties (SURVEY.md §5.2 item 1)."""

from __future__ import annotations

import numpy as np
import pytest

from mee_spark.bm25 import tnorm_np
from mee_spark.codec import decode_postings
from reference_helpers import (
    block_metadata,
    block_ub,
    delta_decode,
    delta_encode,
    encode_postings,
    varbyte_decode,
    varbyte_encode,
)


@pytest.mark.parametrize("seed", range(5))
def test_varbyte_roundtrip_random(seed):
    rng = np.random.default_rng(seed)
    n = int(rng.integers(1, 5000))
    # mix of tiny and huge values to cross every byte-length boundary
    vals = rng.integers(0, 2, n, dtype=np.uint64) * rng.integers(
        0, np.iinfo(np.int64).max, n, dtype=np.uint64
    ) + rng.integers(0, 300, n, dtype=np.uint64)
    assert np.array_equal(varbyte_decode(varbyte_encode(vals)), vals)


def test_varbyte_edges():
    for vals in ([], [0], [127], [128], [16383], [16384], [0, 0, 0],
                 [2**63 - 1], [2**64 - 1], [1, 2**35, 0, 300]):
        arr = np.array(vals, dtype=np.uint64)
        assert np.array_equal(varbyte_decode(varbyte_encode(arr)), arr)


@pytest.mark.parametrize("seed", range(5))
def test_delta_roundtrip(seed):
    rng = np.random.default_rng(seed + 100)
    n = int(rng.integers(1, 3000))
    docs = np.cumsum(rng.integers(1, 10_000, n, dtype=np.uint64))
    assert np.array_equal(delta_decode(delta_encode(docs)), docs)


def test_block_max_dominates_members():
    rng = np.random.default_rng(3)
    n = 1000
    docs = np.cumsum(rng.integers(1, 50, n, dtype=np.uint64)).astype(np.int64)
    tfs = rng.integers(1, 30, n).astype(np.int64)
    dls = rng.integers(5, 2000, n).astype(np.int64)
    avgdl = 146.0
    last, max_tf, min_dl = block_metadata(docs, tfs, dls, block_size=128)
    tn = tnorm_np(tfs, dls, avgdl)
    ub = block_ub(max_tf, min_dl, avgdl)
    for bi in range(len(last)):
        lo, hi = bi * 128, min((bi + 1) * 128, n)
        assert ub[bi] >= tn[lo:hi].max()  # UB dominates every member
        assert max_tf[bi] == tfs[lo:hi].max()
        assert min_dl[bi] == dls[lo:hi].min()
        assert last[bi] == docs[hi - 1]
    # UB remains dominant under a DIFFERENT avgdl (incremental-gen drift)
    for a2 in (avgdl * 0.5, avgdl * 2.0):
        assert (block_ub(max_tf, min_dl, a2)[:-1] >= tnorm_np(tfs, dls, a2)[: (n // 128) * 128].reshape(-1, 128).max(axis=1)).all()


def test_encode_decode_postings_roundtrip():
    rng = np.random.default_rng(9)
    n = 777
    docs = np.cumsum(rng.integers(1, 99, n, dtype=np.uint64)).astype(np.int64)
    tfs = rng.integers(1, 12, n).astype(np.int64)
    dls = rng.integers(5, 2000, n).astype(np.int64)
    row = encode_postings(docs, tfs, dls)
    assert row["n_postings"] == n
    d2, t2, l2 = decode_postings(row)
    assert np.array_equal(d2, docs)
    assert np.array_equal(t2, tfs)
    assert np.array_equal(l2, dls)
