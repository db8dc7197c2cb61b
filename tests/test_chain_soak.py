"""Long-chain lifecycle soak: many generations of seeded random edits,
rank-identity against a fresh full rebuild after EVERY generation, with a
compaction dropped in mid-chain and further incrementals on top of it.

Covers edges the 3-snapshot tests don't: urls deleted then RE-ADDED
(fresh docID; the old one must stay masked), repeated tombstones for the
same url across generations, chains that mix pre- and post-compaction
generations, and docmap liveness across all of it.
"""

from __future__ import annotations

import glob
import os
from pathlib import Path

import numpy as np
import pytest
from pyspark.sql import functions as F

from mee_spark import manifest as mf
from mee_spark.build import build_full_index, build_incremental, live_docmap
from mee_spark.config import IndexConfig
from mee_spark.fixtures import gen_pages_for_indices, gen_queries
from mee_spark.merge import compact
from mee_spark.query_wand import bm25_topk_wand

CFG = IndexConfig(num_doc_partitions=4, num_term_buckets=4,
                  doc_range_size=128, block_size=32)

N_DOCS = 1200
N_GENS = 6
COMPACT_AT = 4


def _snapshot_df(spark, state: dict[str, str]):
    rows = [(u, t) for u, t in sorted(state.items())]
    return spark.createDataFrame(rows, "url string, text string")


def _ranked_by_url(spark, index_dir, queries, gens):
    res = bm25_topk_wand(spark, index_dir, queries, CFG, round_digits=6)
    dm = live_docmap(spark, index_dir, gens).select(
        F.col("doc_id").alias("_id"), "url")
    return sorted(
        (r["query_id"], r["rank"], r["url"], r["score"])
        for r in res.join(dm, res["doc_id"] == dm["_id"]).collect()
    )


@pytest.mark.slow
def test_long_chain_with_midway_compaction(spark, tmp_path_factory):
    rng = np.random.default_rng(4242)
    base = gen_pages_for_indices(range(N_DOCS))
    # truth lives in a plain dict url -> text
    state = dict(zip(base["url"], base["text"]))
    ever_deleted: list[str] = []
    next_new = 10 ** 6

    inc_dir = str(tmp_path_factory.mktemp("chain_inc"))
    build_full_index(spark, _snapshot_df(spark, state), CFG, inc_dir,
                     gen=1, use_html=False)
    queries = gen_queries(spark, 25)
    gens = [1]

    for g in range(2, N_GENS + 1):
        urls = sorted(state)
        # delete 5%
        for u in rng.choice(urls, size=max(1, len(urls) // 20), replace=False):
            ever_deleted.append(u)
            del state[u]
        # change 8% (append a seeded token tail)
        for u in rng.choice(sorted(state), size=max(1, len(state) // 12),
                            replace=False):
            state[u] = state[u] + f" edit{g} w{int(rng.integers(10_000)):06d}"
        # add 3% brand-new urls
        for _ in range(max(1, len(state) // 33)):
            pdf = gen_pages_for_indices([next_new])
            state[f"re/{next_new}"] = pdf["text"].iloc[0]
            next_new += 1
        # RE-ADD one previously deleted url with fresh text (the docID of
        # its earlier life must stay tombstone-masked)
        if ever_deleted:
            u = ever_deleted.pop(0)
            state[u] = f"resurrected w{g:06d} page content returns"

        new_gen = gens[-1] + 1
        build_incremental(spark, _snapshot_df(spark, state), CFG, inc_dir,
                          gen=new_gen, use_html=False)
        gens.append(new_gen)

        full_dir = str(tmp_path_factory.mktemp(f"chain_full_{g}"))
        build_full_index(spark, _snapshot_df(spark, state), CFG, full_dir,
                         gen=1, use_html=False)
        got = _ranked_by_url(spark, inc_dir, queries, gens)
        want = _ranked_by_url(spark, full_dir, queries, [1])
        assert got == want, f"chain diverged from full rebuild at gen {g}"

        if g == COMPACT_AT:
            # compaction target must exceed the chain's max (generation
            # numbers order last-writer-wins — guarded in compact())
            compact(spark, inc_dir, CFG, new_gen=gens[-1] + 10)
            gens = [gens[-1] + 10]
            got_c = _ranked_by_url(spark, inc_dir, queries, gens)
            assert got_c == want, "compaction changed results mid-chain"

    # the chain ends with post-compaction generations stacked on the
    # compacted gen
    assert len(gens) == N_GENS - COMPACT_AT + 1


def test_generation_ordering_guards(spark, tmp_path_factory):
    """A new gen numbered at or below the chain's max must be refused —
    last-writer-wins is ordered by generation number."""
    d = str(tmp_path_factory.mktemp("genguard"))
    snap = _snapshot_df(spark, {"a": "alpha beta", "b": "beta gamma"})
    build_full_index(spark, snap, CFG, d, gen=5, use_html=False)
    with pytest.raises(ValueError, match="must exceed"):
        build_incremental(spark, snap, CFG, d, gen=5, use_html=False)
    with pytest.raises(ValueError, match="must exceed"):
        compact(spark, d, CFG, new_gen=3)
    # a full build into the published generation (or below it) is refused
    # before any write: its docmap and segment files stay byte-identical
    before = _gen_files(d, 5)
    other = _snapshot_df(spark, {"c": "delta epsilon"})
    for gen in (5, 1):
        with pytest.raises(ValueError, match="must exceed"):
            build_full_index(spark, other, CFG, d, gen=gen, use_html=False)
    assert _gen_files(d, 5) == before
    assert not os.path.exists(mf.gen_dir(d, 1))


def _gen_files(d: str, gen: int) -> dict[str, bytes]:
    """Every file of ``gen``'s docmap and segments, by path."""
    g = mf.gen_dir(d, gen)
    files = glob.glob(os.path.join(g, "docmap.parquet", "*")) + glob.glob(
        os.path.join(g, "segments", "bucket=*", "*.parquet"))
    assert any("docmap" in f for f in files) and any("segments" in f for f in files)
    return {f: Path(f).read_bytes() for f in files}


# ------------------------------------------------- auto-compaction policy

def test_compaction_due_metadata_only(tmp_path):
    """Policy decision from manifest metadata alone — no SparkSession."""
    from mee_spark import manifest as mf
    from mee_spark.merge import compaction_due

    d = str(tmp_path)
    mf.write_manifest(d, 1, parent=None, n_docs_live=1000, sum_dl_live=5000,
                      metrics={"kind": "full"}, lineage={})
    mf.publish(d, 1)
    dec = compaction_due(d, max_chain_len=3, max_tombstone_ratio=0.2)
    assert not dec["due"] and dec["chain_len"] == 1

    # churn accumulates: changed docs count as tombstones (they are
    # tombstone + re-add on the read path)
    mf.write_manifest(d, 2, parent=1, n_docs_live=1000, sum_dl_live=5000,
                      metrics={"kind": "incremental", "docs_changed": 100,
                               "docs_deleted": 150}, lineage={})
    mf.publish(d, 2)
    dec = compaction_due(d, max_chain_len=3, max_tombstone_ratio=0.2)
    assert dec["due"] and dec["tombstone_ratio"] == 0.25
    assert any("tombstone_ratio" in r for r in dec["reasons"])

    # chain-length trigger, ratio relaxed
    mf.write_manifest(d, 3, parent=2, n_docs_live=1000, sum_dl_live=5000,
                      metrics={"kind": "incremental", "docs_changed": 0,
                               "docs_deleted": 0}, lineage={})
    mf.write_manifest(d, 4, parent=3, n_docs_live=1000, sum_dl_live=5000,
                      metrics={"kind": "incremental", "docs_changed": 0,
                               "docs_deleted": 0}, lineage={})
    mf.publish(d, 4)
    dec = compaction_due(d, max_chain_len=3, max_tombstone_ratio=10.0)
    assert dec["due"] and dec["chain_len"] == 4
    assert any("chain_len" in r for r in dec["reasons"])

    # a compaction manifest has parent=None -> counters reset
    mf.write_manifest(d, 5, parent=None, n_docs_live=1000, sum_dl_live=5000,
                      metrics={"kind": "compaction"}, lineage={})
    mf.publish(d, 5)
    dec = compaction_due(d, max_chain_len=3, max_tombstone_ratio=0.2)
    assert not dec["due"] and dec["chain_len"] == 1 and dec["n_tombstones"] == 0


@pytest.mark.slow
def test_auto_compaction_soak(spark, tmp_path_factory):
    """The maintenance path a long-lived deployment runs after every
    incremental batch: maybe_compact() stays quiet while the chain is
    healthy, fires when the chain-length knob trips, and the compacted
    index is hash-identical to a fresh full rebuild of the same state
    (the invariant the fulltext_compacted oracle pins at the value level)."""
    from mee_spark import manifest as mf
    from mee_spark.merge import maybe_compact

    rng = np.random.default_rng(77)
    base = gen_pages_for_indices(range(300))
    state = dict(zip(base["url"], base["text"]))
    d = str(tmp_path_factory.mktemp("autocompact"))
    build_full_index(spark, _snapshot_df(spark, state), CFG, d,
                     gen=1, use_html=False)
    queries = gen_queries(spark, 15)

    fired_at = None
    for g in (2, 3, 4):
        for u in rng.choice(sorted(state), size=10, replace=False):
            state[u] = state[u] + f" edit{g}"
        build_incremental(spark, _snapshot_df(spark, state), CFG, d,
                          gen=g, use_html=False)
        m = maybe_compact(spark, d, CFG, max_chain_len=3,
                          max_tombstone_ratio=10.0)
        if m is not None:
            fired_at = g
            assert m["metrics"]["policy"]["due"]
            assert any("chain_len" in r
                       for r in m["metrics"]["policy"]["reasons"])
    # chain lengths: after g=2 -> 2, g=3 -> 3 (not > 3), g=4 -> 4 -> fires
    assert fired_at == 4
    cur = mf.current_gen(d)
    assert len(mf.manifest_chain(d)) == 1  # compaction reset the chain
    # the policy decision must reach the ON-DISK manifest audit trail,
    # not just maybe_compact's return value (ADVICE r5)
    on_disk = mf.manifest_chain(d)[0]
    assert on_disk["metrics"]["policy"]["due"]
    assert on_disk["metrics"]["policy"]["reasons"]

    full_dir = str(tmp_path_factory.mktemp("autocompact_full"))
    build_full_index(spark, _snapshot_df(spark, state), CFG, full_dir,
                     gen=1, use_html=False)
    got = _ranked_by_url(spark, d, queries, [cur])
    want = _ranked_by_url(spark, full_dir, queries, [1])
    assert got == want, "policy compaction changed query results"

    # heavy churn trips the tombstone-ratio trigger even on a short chain
    for u in rng.choice(sorted(state), size=len(state) // 2, replace=False):
        state[u] = state[u] + " churn"
    build_incremental(spark, _snapshot_df(spark, state), CFG, d,
                      gen=cur + 1, use_html=False)
    m = maybe_compact(spark, d, CFG, max_chain_len=100,
                      max_tombstone_ratio=0.2)
    assert m is not None
    assert any("tombstone_ratio" in r for r in m["metrics"]["policy"]["reasons"])
    got = _ranked_by_url(spark, d, queries, [mf.current_gen(d)])
    full2 = str(tmp_path_factory.mktemp("autocompact_full2"))
    build_full_index(spark, _snapshot_df(spark, state), CFG, full2,
                     gen=1, use_html=False)
    assert got == _ranked_by_url(spark, full2, queries, [1])
