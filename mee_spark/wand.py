"""Block-max WAND top-k scorer (pure numpy + heap; runs inside Arrow UDFs).

Document-at-a-time WAND (Broder et al. 2003) with block-max refinement
(Ding & Suel 2011): terms are kept sorted by their current docID; the
pivot is the first term where the running sum of per-term score upper
bounds exceeds the heap threshold θ. Before fully scoring a pivot
document we re-check with the *block-local* upper bounds; if even those
can't beat θ we jump past the smallest block boundary (NextShallow).

Safety property (tested: WAND ≡ exhaustive on every fixture query):
pruning only happens when the upper bound is *strictly* below θ, and the
heap tie-break is (score desc, doc_id asc), so a θ-equal document with a
smaller docID can still displace the current worst.

Scoring determinism: contributions for a fully-scored doc are summed in
lexicographic term order (same fixed order as the oracle).
"""

from __future__ import annotations

import heapq

import numpy as np

from mee_spark.bm25 import tnorm_np
from mee_spark.config import B, K1


class TermCursor:
    """One (term, gen) segment row's live postings in one docID range,
    scored: each posting's BM25 contribution and each block's upper bound,
    plus a traversal pointer ``ptr``. The range scorer builds one per row
    and shares it across every query holding the term; only ``wand_topk``
    moves ``ptr``, so it gets shallow copies (the arrays stay shared)."""

    __slots__ = ("term", "docs", "scores", "blk_last", "blk_ub", "idf", "ptr", "n")

    def __init__(self, term: str, docs: np.ndarray, tfs: np.ndarray,
                 dls: np.ndarray, idf: float, avgdl: float,
                 blk_last: np.ndarray, blk_max_tf: np.ndarray,
                 blk_min_dl: np.ndarray, k1: float = K1, b: float = B) -> None:
        self.term = term
        self.docs = docs
        self.scores = idf * tnorm_np(tfs, dls, avgdl, k1, b)
        self.blk_last = np.asarray(blk_last, dtype=np.int64)
        # UB derived under the CURRENT avgdl (valid across incremental gens)
        self.blk_ub = idf * tnorm_np(
            np.asarray(blk_max_tf), np.asarray(blk_min_dl), avgdl, k1, b
        )
        self.idf = float(idf)
        self.ptr = 0
        self.n = len(docs)

    @property
    def cur_doc(self) -> int:
        return int(self.docs[self.ptr]) if self.ptr < self.n else np.iinfo(np.int64).max

    @property
    def max_score(self) -> float:
        return float(self.blk_ub.max()) if self.blk_ub.size else 0.0

    def seek(self, target: int) -> None:
        """Advance to first doc >= target (galloping via searchsorted)."""
        if self.ptr < self.n and self.docs[self.ptr] < target:
            self.ptr += int(np.searchsorted(self.docs[self.ptr:], target, side="left"))

    def block_ub_at(self, doc: int) -> float:
        """Upper bound of the block containing (first block ending >=) doc."""
        bi = int(np.searchsorted(self.blk_last, doc, side="left"))
        if bi >= len(self.blk_ub):
            return 0.0
        return float(self.blk_ub[bi])

    def block_end_at(self, doc: int) -> int:
        bi = int(np.searchsorted(self.blk_last, doc, side="left"))
        if bi >= len(self.blk_last):
            return np.iinfo(np.int64).max
        return int(self.blk_last[bi])

    def score_at(self, doc: int) -> float:
        """Exact contribution if current doc == doc else 0."""
        if self.ptr < self.n and int(self.docs[self.ptr]) == doc:
            return float(self.scores[self.ptr])
        return 0.0


def _heap_better(score: float, doc_id: int, worst: tuple) -> bool:
    """(score desc, doc_id asc) ordering: can candidate displace worst?"""
    wscore, wneg = worst[0], worst[1]
    return score > wscore or (score == wscore and -doc_id > wneg)


def wand_topk(cursors: list[TermCursor], k: int,
              use_block_max: bool = True,
              stats: dict | None = None,
              round_to: int | None = None) -> list[tuple[int, float]]:
    """-> [(doc_id, score)] ranked (score desc, doc_id asc), len <= k.

    ``cursors`` is one TermCursor per distinct query term present in the
    index (missing/OOV terms simply have no cursor); their ``ptr``s move,
    so a shared cursor is passed as a copy. Pass a dict as
    ``stats`` to collect pruning counters: ``docs_scored`` (full BM25
    evaluations) vs ``total_postings`` (what exhaustive scoring pays).

    ``round_to``: when the FINAL ranking rounds scores (the engine's
    presentation contract), the local heap must select by the SAME rounded
    key, or a doc dropped here could round-tie a kept doc and win the
    doc_id tie-break globally. Two-part safety argument for pruning
    against the rounded heap floor θ with UNROUNDED upper bounds:

    1. Fully-scored docs are visited in strictly increasing docID order
       (every scored pivot is the minimum cursor position and all its
       cursors advance past it), so a later candidate that round-TIES θ
       always LOSES the (score desc, doc_id asc) tie-break to every doc
       already in the heap — tie displacement can only run the other way.
    2. Belt and suspenders, because (1) is a traversal invariant rather
       than a local property: the pruning threshold is widened to the
       rounding grid's lower edge, θ_eff = θ − ½·10^-r (epsilon-padded
       against float error). A doc whose unrounded bound falls below
       θ_eff has round(score) < θ and can never enter the final ranking;
       docs inside the half-ulp window are fully scored and rejected by
       the exact heap comparison instead of being pruned on a bound.
    """
    cursors = [c for c in cursors if c.n > 0]
    if stats is not None:
        stats.setdefault("docs_scored", 0)
        stats.setdefault("total_postings", 0)
        stats["total_postings"] += sum(c.n for c in cursors)
    if not cursors or k <= 0:
        return []
    cursors.sort(key=lambda c: c.term)  # fixed scoring order
    heap: list[tuple[float, int]] = []  # (score, -doc_id) min-heap; [0] = worst
    big = np.iinfo(np.int64).max
    # half-ulp of the rounding grid (slightly widened): bounds are
    # unrounded while θ lives on the grid — see docstring safety argument
    tie_pad = 0.5000001 * 10.0 ** (-round_to) if round_to is not None else 0.0

    while True:
        live = [c for c in cursors if c.ptr < c.n]
        if not live:
            break
        live.sort(key=lambda c: c.cur_doc)
        theta = (heap[0][0] - tie_pad) if len(heap) >= k else -np.inf
        # find pivot: first index where cumulative global UBs exceed theta
        acc, pivot_idx = 0.0, -1
        for i, c in enumerate(live):
            acc += c.max_score
            # >= not >: a doc scoring exactly theta can still displace the
            # current worst via the doc_id tie-break.
            if acc >= theta:
                pivot_idx = i
                break
        if pivot_idx < 0:
            if len(heap) >= k:
                break
            pivot_idx = len(live) - 1
        pivot_doc = live[pivot_idx].cur_doc
        if pivot_doc == big:
            break

        if use_block_max and len(heap) >= k:
            # Block-max refinement (BMW): bound must cover EVERY cursor
            # positioned at pivot_doc, including ones past the pivot index.
            ext = [c for c in live if c.cur_doc <= pivot_doc]
            blk_acc = sum(c.block_ub_at(pivot_doc) for c in ext)
            if blk_acc < theta:  # strict: theta-ties can displace by doc_id
                # NextShallow: docs in [pivot_doc, min block end] seen only by
                # ext cursors are bounded by blk_acc < theta -> skippable. The
                # jump must be clamped by the first cursor beyond pivot_doc,
                # whose postings were NOT part of the bound.
                nxt = min(c.block_end_at(pivot_doc) for c in ext)
                beyond = [c.cur_doc for c in live if c.cur_doc > pivot_doc]
                target = min(nxt + 1, min(beyond) if beyond else big)
                target = max(target, pivot_doc + 1)  # guaranteed progress
                for c in ext:
                    c.seek(target)
                continue

        if live[0].cur_doc == pivot_doc:
            # all prefix cursors aligned -> fully score pivot_doc
            if stats is not None:
                stats["docs_scored"] += 1
            score = 0.0
            for c in cursors:  # lexicographic order for deterministic sum
                if c.cur_doc == pivot_doc:
                    score += c.score_at(pivot_doc)
            if round_to is not None:
                # np.round (not Python round): bit-identical to the
                # vectorized kernel's np.round so the hybrid paths agree
                score = float(np.round(score, round_to))
            cand = (score, -pivot_doc)
            if len(heap) < k:
                heapq.heappush(heap, cand)
            elif _heap_better(score, pivot_doc, heap[0]):
                heapq.heapreplace(heap, cand)
            for c in live:
                if c.cur_doc == pivot_doc:
                    c.ptr += 1
        else:
            # advance a cursor strictly behind the pivot (pick max-UB one);
            # picking one already AT pivot_doc would be a no-op -> livelock
            behind = [c for c in live[:pivot_idx] if c.cur_doc < pivot_doc]
            adv = max(behind, key=lambda c: c.max_score)
            adv.seek(pivot_doc)

    out = [(-nd, s) for s, nd in heap]
    out.sort(key=lambda x: (-x[1], x[0]))
    return out


def exhaustive_topk_vec(cursors: list[TermCursor], k: int,
                        round_to: int | None = None,
                        n_terms: int | None = None) -> list[tuple[int, float]]:
    """Fully-vectorized exhaustive scoring — identical results to
    wand_topk (same float summation order: terms accumulate per doc in
    lexicographic cursor order via the stable sort).

    Why it exists: docID-range partitioning bounds every in-task posting
    list, and a numpy pass (~0.13 us per posting) beats the Python
    pointer-walk of WAND even when WAND skips most docs. The scorer picks
    per (query, range): this kernel under ``wand_min_postings``, block-max
    WAND at or above it. That threshold is not where skipping starts to
    pay: over the 100-query pool on 100k-doc indexes (4 vCPU), the
    (query, range) pairs at or above it took 77-92x this kernel's CPU
    under WAND, with identical top-k, at 2^15- and 2^20-doc ranges
    (13.8 vs 0.15 and 87.1 vs 1.13 CPU-s).

    ``n_terms``: AND semantics — only docs contributing from ALL
    ``n_terms`` query terms rank. docID-range partitioning co-locates
    every posting of a doc in one range, and each doc appears at most
    once per term after tombstone masking (changed docs' old-gen postings
    are dead), so the per-doc contribution COUNT of the union pass IS the
    matched-term count. A range where a query term has no cursor is
    skipped before the sort (a cursor per (term, gen) carries the gen
    after a NUL in its term key, so terms are counted without it).
    (A galloping/WAND-AND skipper is the known upgrade for huge ranges;
    selectivity of the intersection keeps this pass cheap.)"""
    cursors = sorted([c for c in cursors if c.n > 0], key=lambda c: c.term)
    if not cursors or k <= 0 or (n_terms is not None and len(
            {c.term.split("\x00")[0] for c in cursors}) < n_terms):
        return []
    all_docs = np.concatenate([c.docs for c in cursors])
    all_scores = np.concatenate([c.scores for c in cursors])
    order = np.argsort(all_docs, kind="stable")  # stable: keeps term order per doc
    d = all_docs[order]
    s = all_scores[order]
    starts = np.flatnonzero(np.concatenate(([True], d[1:] != d[:-1])))
    sums = np.add.reduceat(s, starts)
    uniq = d[starts]
    if n_terms is not None:
        keep = np.diff(np.append(starts, len(d))) == n_terms
        uniq, sums = uniq[keep], sums[keep]
    if round_to is not None:  # select by the final (rounded) ranking key
        sums = np.round(sums, round_to)
    top = np.lexsort((uniq, -sums))[:k]  # (score desc, doc_id asc)
    return [(int(uniq[i]), float(sums[i])) for i in top]
