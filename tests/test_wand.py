"""WAND ≡ exhaustive (SURVEY.md §5.2 item 4) on randomized posting lists."""

from __future__ import annotations

import numpy as np
import pytest

from mee_spark.bm25 import idf_np
from mee_spark.wand import TermCursor, exhaustive_topk_vec, wand_topk
from reference_helpers import block_metadata, exhaustive_topk_np


def make_cursor(term, rng, n_docs, df, avgdl):
    docs = np.sort(rng.choice(n_docs, size=df, replace=False)).astype(np.int64)
    tfs = rng.integers(1, 8, df).astype(np.int64)
    dls = rng.integers(5, 400, df).astype(np.int64)
    last, max_tf, min_dl = block_metadata(docs, tfs, dls, block_size=16)
    idf = idf_np(float(df), n_docs)
    return TermCursor(term, docs, tfs, dls, idf, avgdl, last, max_tf, min_dl)


@pytest.mark.parametrize("seed", range(20))
@pytest.mark.parametrize("k", [1, 5, 10, 100])
def test_wand_equals_exhaustive(seed, k):
    rng = np.random.default_rng(seed)
    n_docs = 2000
    avgdl = 150.0
    n_terms = int(rng.integers(1, 6))
    cursors = []
    for t in range(n_terms):
        # mix head terms (df up to 60% of corpus) and tail terms (df<=3)
        df = int(rng.integers(1, 4)) if rng.random() < 0.4 else int(
            rng.integers(10, int(n_docs * 0.6)))
        cursors.append(make_cursor(f"t{t:02d}", rng, n_docs, df, avgdl))
    # exhaustive_topk_np does not move cursor pointers, so compute it first
    want = exhaustive_topk_np(cursors, k)
    # AND mode of the vectorized kernel (no pointer moves either) ≡ the
    # brute-force union ranking restricted to docs in every posting list
    in_all = set.intersection(*(set(c.docs.tolist()) for c in cursors))
    want_and = [(d, s) for d, s in exhaustive_topk_np(cursors, n_docs)
                if d in in_all][:k]
    got_and = exhaustive_topk_vec(cursors, k, n_terms=n_terms)
    assert [d for d, _ in got_and] == [d for d, _ in want_and], f"seed={seed} k={k}"
    for (_, gs), (_, ws) in zip(got_and, want_and):
        assert gs == pytest.approx(ws, abs=1e-12)
    # one more query term with no cursor here: no doc can match them all
    assert exhaustive_topk_vec(cursors, k, n_terms=n_terms + 1) == []
    got = wand_topk(cursors, k)
    assert [d for d, _ in got] == [d for d, _ in want], f"seed={seed} k={k}"
    for (_, gs), (_, ws) in zip(got, want):
        assert gs == pytest.approx(ws, abs=1e-12)


def test_wand_empty_and_oov():
    assert wand_topk([], 10) == []
    rng = np.random.default_rng(1)
    c = make_cursor("x", rng, 100, 0 or 1, 50.0)
    assert len(wand_topk([c], 10)) == 1


@pytest.mark.parametrize("seed", range(25))
@pytest.mark.parametrize("round_to", [0, 1, 2])
def test_wand_round_tie_boundary(seed, round_to):
    """ADVICE r2 (wand.py:147): with round_to set, the heap floor θ lives
    on the 10^-r grid while pruning bounds are unrounded. A doc whose true
    score falls in [θ − ½·10^-r, θ) rounds TO θ; pruning it on a bound in
    that half-ulp window must not change the result. Coarse grids (r=0,1)
    make these boundary docs dense, so WAND ≡ exhaustive here exercises
    exactly the tie window; k chosen small so θ rises early."""
    rng = np.random.default_rng(seed)
    n_docs, avgdl = 3000, 100.0
    cursors = []
    for t in range(int(rng.integers(2, 6))):
        df = int(rng.integers(50, int(n_docs * 0.7)))
        # narrow tf/dl spread -> many near-identical scores -> dense ties
        docs = np.sort(rng.choice(n_docs, size=df, replace=False)).astype(np.int64)
        tfs = rng.integers(1, 4, df).astype(np.int64)
        dls = rng.integers(80, 120, df).astype(np.int64)
        last, max_tf, min_dl = block_metadata(docs, tfs, dls, block_size=16)
        cursors.append(TermCursor(f"t{t:02d}", docs, tfs, dls,
                                  idf_np(float(df), n_docs), avgdl,
                                  last, max_tf, min_dl))
    for k in (3, 10):
        want = exhaustive_topk_vec(cursors, k, round_to=round_to)
        for c in cursors:
            c.ptr = 0
        got = wand_topk(cursors, k, round_to=round_to)
        for c in cursors:
            c.ptr = 0
        assert got == want, f"seed={seed} r={round_to} k={k}"


def test_wand_duplicate_scores_tiebreak():
    """Docs with identical (tf, dl) tie exactly; ranking must be doc_id asc."""
    avgdl = 100.0
    docs = np.arange(0, 50, dtype=np.int64)
    tfs = np.full(50, 3, dtype=np.int64)
    dls = np.full(50, 100, dtype=np.int64)
    last, max_tf, min_dl = block_metadata(docs, tfs, dls, block_size=8)
    idf = idf_np(50.0, 1000)
    c = TermCursor("t", docs, tfs, dls, idf, avgdl, last, max_tf, min_dl)
    got = wand_topk([c], 10)
    assert [d for d, _ in got] == list(range(10))
