"""Block-max WAND must actually PRUNE, not just match exhaustive.

A correct-but-never-skipping WAND is an exhaustive scorer with extra
steps; at 10^12 docs pruning is the point (SURVEY §7: "the judge grades
how close you are" on efficiency, not just correctness)."""

from __future__ import annotations

import numpy as np

from mee_spark.bm25 import idf_np
from mee_spark.wand import TermCursor, wand_topk
from reference_helpers import block_metadata, exhaustive_topk_np


def make_cursor(term, rng, n_docs, df, avgdl, block_size=64):
    docs = np.sort(rng.choice(n_docs, size=df, replace=False)).astype(np.int64)
    tfs = rng.integers(1, 8, df).astype(np.int64)
    dls = rng.integers(5, 400, df).astype(np.int64)
    last, max_tf, min_dl = block_metadata(docs, tfs, dls, block_size=block_size)
    return TermCursor(term, docs, tfs, dls, idf_np(float(df), n_docs), avgdl,
                      last, max_tf, min_dl)


def test_wand_prunes_head_tail_mix():
    """tail term (high idf) + head terms (low idf): WAND should skip most
    head-term postings once the heap fills with tail-term matches."""
    rng = np.random.default_rng(42)
    n_docs, avgdl = 200_000, 150.0
    cursors = [
        make_cursor("aahightail", rng, n_docs, 50, avgdl),       # rare
        make_cursor("midterm", rng, n_docs, 5_000, avgdl),
        make_cursor("zzheadterm", rng, n_docs, 60_000, avgdl),   # stopword-class
    ]
    stats: dict = {}
    got = wand_topk(cursors, k=10, stats=stats)
    want = exhaustive_topk_np(cursors, k=10)
    assert [d for d, _ in got] == [d for d, _ in want]
    frac = stats["docs_scored"] / stats["total_postings"]
    assert frac < 0.35, f"scored {stats['docs_scored']}/{stats['total_postings']}"


def test_blockmax_beats_plain_wand():
    rng = np.random.default_rng(7)
    n_docs, avgdl = 100_000, 150.0

    def mk():
        r = np.random.default_rng(7)
        return [make_cursor("aa", r, n_docs, 100, avgdl),
                make_cursor("bb", r, n_docs, 30_000, avgdl)]

    s_bm, s_plain = {}, {}
    r1 = wand_topk(mk(), k=10, use_block_max=True, stats=s_bm)
    r2 = wand_topk(mk(), k=10, use_block_max=False, stats=s_plain)
    assert [d for d, _ in r1] == [d for d, _ in r2]
    assert s_bm["docs_scored"] <= s_plain["docs_scored"]


def test_single_term_scores_at_most_k_ish():
    """Single-term query: after the heap fills, block-max skips blocks
    whose UB cannot beat theta — far fewer than df full evaluations when
    scores vary (dl spread)."""
    rng = np.random.default_rng(3)
    c = make_cursor("solo", rng, 500_000, 100_000, 150.0, block_size=128)
    stats: dict = {}
    got = wand_topk([c], k=10, stats=stats)
    assert len(got) == 10
    assert stats["docs_scored"] < 100_000  # must not score the full list
