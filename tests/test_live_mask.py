"""Tombstone masking kernels, without Spark.

``live_mask`` decides which decoded postings survive last-writer-wins
deletes; ``joined_tombstones`` flattens the per-range tombstone arrays
that the left join attaches to a batch of segment rows. Every chain
query, live-df pass and compaction goes through both.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from mee_spark.query_wand import joined_tombstones
from mee_spark.segments import live_mask


def _mask(docs, post_gens, tomb_ids, tomb_gens):
    return live_mask(np.asarray(docs, np.int64), np.asarray(post_gens, np.int64),
                     np.asarray(tomb_ids, np.int64), np.asarray(tomb_gens, np.int64))


def test_newest_of_duplicate_tombstones_decides():
    # doc 5 changed in gen 2 and again in gen 3: its gen-1 and gen-2
    # postings are dead, its gen-3 postings live. Judged by the oldest
    # tombstone (gen 2), the gen-2 postings would wrongly survive.
    got = _mask([5, 5, 5], [1, 2, 3], [5, 5], [3, 2])
    assert got.tolist() == [False, False, True]


def test_changed_doc_readded_in_tombstone_gen_stays_live():
    got = _mask([7, 7], [1, 2], [7], [2])
    assert got.tolist() == [False, True]


def test_tombstone_older_than_posting_does_not_kill():
    got = _mask([9, 9], [3, 4], [9], [2])
    assert got.tolist() == [True, True]


def test_untombstoned_docs_around_the_tombstone_ids_stay_live():
    # ids below, between and above the tombstoned ones (the searchsorted
    # index is clamped at the last tombstone)
    docs = [1, 4, 5, 6, 10, 99]
    got = _mask(docs, [1] * 6, [4, 10], [2, 2])
    assert got.tolist() == [True, False, True, True, False, True]


def test_empty_tombstones_or_docs():
    assert _mask([1, 2, 3], [1, 1, 1], [], []).tolist() == [True, True, True]
    empty = _mask([], [], [4], [2])
    assert empty.dtype == bool and len(empty) == 0
    assert len(_mask([], [], [], [])) == 0


def _rows(ranges, tomb_ids, tomb_gens):
    return pd.DataFrame({"range_id": ranges, "term": [f"t{i}" for i in range(len(ranges))],
                         "tomb_ids": tomb_ids, "tomb_gens": tomb_gens})


def test_joined_tombstones_counts_each_range_once():
    # three rows share range 0 and two share range 1: each range's arrays
    # come back once
    a_ids, a_gens = np.array([3, 8]), np.array([2, 3])
    b_ids, b_gens = np.array([70]), np.array([2])
    rows = _rows([0, 0, 1, 0, 1], [a_ids, a_ids, b_ids, a_ids, b_ids],
                 [a_gens, a_gens, b_gens, a_gens, b_gens])
    ids, gens = joined_tombstones(rows)
    assert ids.dtype == np.int64 and gens.dtype == np.int64
    assert sorted(zip(ids.tolist(), gens.tolist())) == [(3, 2), (8, 3), (70, 2)]


def test_joined_tombstones_skips_unmatched_rows():
    ids_a, gens_a = np.array([5]), np.array([2])
    rows = _rows([0, 1, 1], [None, ids_a, ids_a], [None, gens_a, gens_a])
    ids, gens = joined_tombstones(rows)
    assert ids.tolist() == [5] and gens.tolist() == [2]


def test_joined_tombstones_empty_when_join_matched_nothing():
    ids, gens = joined_tombstones(_rows([0, 1], [None, None], [None, None]))
    assert len(ids) == 0 and len(gens) == 0
    assert ids.dtype == np.int64 and gens.dtype == np.int64


def test_joined_tombstones_empty_without_the_join():
    ids, gens = joined_tombstones(pd.DataFrame({"range_id": [0], "term": ["t"]}))
    assert len(ids) == 0 and len(gens) == 0

