"""Segment-row compaction ≡ the exploded decode → build_segments path.

``compact`` merges each (bucket, range)'s compressed segment rows in one
task. These tests pin that its output is table-identical, file by file,
to re-encoding the chain's decoded live postings through
``build_segments``, on a chain with changed docs, deleted docs, a
deletion-only generation, a term whose postings in a range are all dead
and a docID range with no live doc left; that a resumed or task-retried
compaction writes the same tables; and that the grouped-map kernels carry
type hints PySpark can infer from.
"""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys
import warnings

import numpy as np
import pyarrow.parquet as pq
import pytest

from mee_spark import manifest as mf
from mee_spark.build import _docmap_path, build_full_index, build_incremental, live_docmap
from mee_spark.codec import decode_postings_batch
from mee_spark.config import IndexConfig
from mee_spark.fixtures import gen_pages_for_indices, gen_queries
from mee_spark.merge import compact, decoded_postings
from mee_spark.query_wand import bm25_topk_wand
from mee_spark.segments import build_segments

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

CFG = IndexConfig(num_doc_partitions=4, num_term_buckets=4,
                  doc_range_size=64, block_size=16)
COMPACT_GEN, REFERENCE_GEN = 10, 20


def _segment_files(index_dir: str, gen: int) -> list[str]:
    root = mf.segments_dir(index_dir, gen)
    return sorted(os.path.relpath(p, root) for p in
                  glob.glob(os.path.join(root, "bucket=*", "*.parquet")))


def _assert_same_segments(index_dir: str, gen_a: int, gen_b: int) -> None:
    files = _segment_files(index_dir, gen_a)
    assert files and files == _segment_files(index_dir, gen_b)
    for f in files:
        a = pq.read_table(os.path.join(mf.segments_dir(index_dir, gen_a), f))
        b = pq.read_table(os.path.join(mf.segments_dir(index_dir, gen_b), f))
        assert a.equals(b), f


def _build_chain(spark, index_dir: str) -> dict:
    """gen 1 full; gen 2 changes, deletes and adds docs, and deletes
    every doc of docID range 1 and the only doc holding ``zzsolo``; gen 3
    only deletes. Returns facts the tests check against."""
    base = gen_pages_for_indices(range(400))
    state = dict(zip(base["url"], base["text"]))
    state["solo/1"] = "zzsolo alpha"

    def snap():
        return spark.createDataFrame(sorted(state.items()), "url string, text string")

    build_full_index(spark, snap(), CFG, index_dir, gen=1, use_html=False)
    dm = spark.read.parquet(_docmap_path(index_dir, 1)).toPandas()
    urls = sorted(state)
    range1 = set(dm.loc[dm["doc_id"] // CFG.doc_range_size == 1, "url"])
    for u in range1 | set(urls[::25]) | {"solo/1"}:
        del state[u]
    for u in sorted(state)[3::17]:
        state[u] += " edited tail w000003"
    for i in range(12):
        state[f"new/{i}"] = f"fresh page {i} w000001 w000002"
    build_incremental(spark, snap(), CFG, index_dir, gen=2, use_html=False)
    for u in sorted(state)[5::40]:
        del state[u]
    m3 = build_incremental(spark, snap(), CFG, index_dir, gen=3, use_html=False)
    assert m3["metrics"]["docs_deleted"] > 0
    assert m3["metrics"]["docs_added"] == m3["metrics"]["docs_changed"] == 0
    return {"gens": [1, 2, 3], "range1": range1, "state": state}


@pytest.fixture(scope="module")
def chain(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("segmerge"))
    facts = _build_chain(spark, d)
    compact(spark, d, CFG, new_gen=COMPACT_GEN, publish=False)
    build_segments(decoded_postings(spark, d, facts["gens"], CFG.doc_range_size),
                   CFG, d, REFERENCE_GEN)
    return d, facts


def test_compact_matches_exploded_rebuild(spark, chain):
    d, facts = chain
    _assert_same_segments(d, COMPACT_GEN, REFERENCE_GEN)
    got = spark.read.parquet(_docmap_path(d, COMPACT_GEN)).toPandas()
    want = live_docmap(spark, d, facts["gens"]).toPandas()
    cols = sorted(want.columns)
    assert (got[cols].sort_values("url").reset_index(drop=True)
            .equals(want[cols].sort_values("url").reset_index(drop=True)))
    assert not set(got["url"]) & facts["range1"]


def _postings_by_url(spark, index_dir: str, gen: int) -> set[tuple]:
    """(term, url, tf, dl) of every posting in one generation's files."""
    t = pq.read_table(mf.segments_dir(index_dir, gen)).to_pandas()
    docs, tfs, dls, counts = decode_postings_batch(
        t["doc_ids_blob"], t["tfs_blob"], t["dls_blob"])
    dm = spark.read.parquet(_docmap_path(index_dir, gen)).toPandas()
    url = dict(zip(dm["doc_id"], dm["url"]))
    return set(zip(np.repeat(t["term"].to_numpy(), counts),
                   (url[d] for d in docs), tfs.tolist(), dls.tolist()))


def test_compacted_postings_match_full_rebuild(spark, chain, tmp_path):
    """Independent of the tombstone mask both paths above share: the
    compacted generation holds exactly the postings a full rebuild of the
    final snapshot holds, doc for doc (matched by url)."""
    d, facts = chain
    full = str(tmp_path / "full")
    build_full_index(spark, spark.createDataFrame(
        sorted(facts["state"].items()), "url string, text string"),
        CFG, full, gen=1, use_html=False)
    assert (_postings_by_url(spark, d, COMPACT_GEN)
            == _postings_by_url(spark, full, 1))


def test_compact_drops_dead_terms_and_empty_ranges(chain):
    d, _ = chain

    def table(gen):
        return pq.read_table(mf.segments_dir(d, gen)).to_pandas()

    old, new = table(1), table(COMPACT_GEN)
    # the range whose docs all died had files and now has none
    assert (old["range_id"] == 1).any() and not (new["range_id"] == 1).any()
    # a term dead in its range leaves that range's term list
    assert (old["term"] == "zzsolo").any() and not (new["term"] == "zzsolo").any()


def test_resumed_compaction_rewrites_only_missing_groups(spark, chain):
    d, _ = chain
    ckpt = mf.checkpoints_dir(d, COMPACT_GEN)
    done = sorted(mf.completed_checkpoints(d, COMPACT_GEN))
    dropped = done[::2]
    for b, r in dropped:
        os.remove(os.path.join(ckpt, mf.checkpoint_name(b, r)))
        os.remove(os.path.join(mf.segments_dir(d, COMPACT_GEN), f"bucket={b}",
                               f"range_{r}.parquet"))
    m = compact(spark, d, CFG, new_gen=COMPACT_GEN, publish=False)
    assert sorted(mf.completed_checkpoints(d, COMPACT_GEN)) == done
    assert len(m["metrics"]["partitions"]) == len(done)
    _assert_same_segments(d, COMPACT_GEN, REFERENCE_GEN)


def test_group_kernels_infer_eval_type_without_warning(spark, tmp_path):
    """write_group, score_group and the compactor are fully annotated, so
    PySpark infers their eval type instead of warning on every call."""
    d = str(tmp_path / "ix")
    snap = spark.createDataFrame(
        [(f"u{i}", f"alpha w{i:06d} beta") for i in range(40)],
        "url string, text string")
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        build_full_index(spark, snap, CFG, d, gen=1, use_html=False)
        build_incremental(spark, snap.limit(30), CFG, d, gen=2, use_html=False)
        bm25_topk_wand(spark, d, gen_queries(spark, 3), CFG).collect()
        compact(spark, d, CFG, new_gen=3)
    msgs = [str(w.message) for w in caught]
    assert not [m for m in msgs if "Cannot infer the eval type" in m], msgs


_COMPACT_FAULT_SCRIPT = r"""
import os, sys, tempfile, json, glob
sys.path.insert(0, sys.argv[1])
import pyarrow.parquet as pq
from pyspark.sql import SparkSession
import mee_spark.merge as merge
from mee_spark import manifest as mf
from mee_spark.build import build_full_index, build_incremental
from mee_spark.config import IndexConfig
from mee_spark.fixtures import gen_pages_for_indices

marker_dir = tempfile.mkdtemp(prefix="compact_fault_markers_")
orig = merge._make_compactor
_groups_seen = {}

def injecting(seg_root, ckpt_root, block_size):
    inner = orig(seg_root, ckpt_root, block_size)
    def wrap(key, segs, tombs):
        import os as _os
        from pyspark import TaskContext
        tc = TaskContext.get()
        if tc is not None and tc.attemptNumber() == 0:
            kid = (tc.partitionId(), tc.attemptNumber())
            _groups_seen[kid] = _groups_seen.get(kid, 0) + 1
            # die AFTER the first group's file+checkpoint are durable: the
            # retried attempt rewrites it over the torn task's output
            if _groups_seen[kid] == 2:
                open(_os.path.join(marker_dir, str(tc.partitionId())), "w").close()
                raise RuntimeError("injected compactor death (first attempt)")
        return inner(key, segs, tombs)
    return wrap

# local[2,4]: 2 cores, up to 4 attempts per task (see the writer fault test)
spark = (SparkSession.builder.master("local[2,4]")
         .config("spark.sql.shuffle.partitions", "4")
         .config("spark.sql.adaptive.enabled", "false")
         .config("spark.ui.enabled", "false").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
cfg = IndexConfig(num_doc_partitions=4, num_term_buckets=4, doc_range_size=64)
d = tempfile.mkdtemp(prefix="ix_compact_fault_")
base = gen_pages_for_indices(range(300))
state = dict(zip(base["url"], base["text"]))
snap = lambda: spark.createDataFrame(sorted(state.items()), "url string, text string")
build_full_index(spark, snap(), cfg, d, gen=1, use_html=False)
for u in sorted(state)[::9]:
    del state[u]
for u in sorted(state)[::13]:
    state[u] += " edited w000007"
build_incremental(spark, snap(), cfg, d, gen=2, use_html=False)

merge.compact(spark, d, cfg, new_gen=10, publish=False)
merge._make_compactor = injecting
merge.compact(spark, d, cfg, new_gen=11, publish=False)
merge._make_compactor = orig

def files(g):
    root = mf.segments_dir(d, g)
    return sorted(os.path.relpath(p, root)
                  for p in glob.glob(os.path.join(root, "bucket=*", "*.parquet")))

fa, fb = files(10), files(11)
equal = fa == fb and all(
    pq.read_table(os.path.join(mf.segments_dir(d, 10), f)).equals(
        pq.read_table(os.path.join(mf.segments_dir(d, 11), f))) for f in fa)
leftovers = glob.glob(os.path.join(mf.segments_dir(d, 11), "bucket=*", "*.tmp"))
print(json.dumps({"injected": len(os.listdir(marker_dir)), "files": len(fa),
                  "equal": equal, "tmp_left": len(leftovers)}))
spark.stop()
"""


def test_compaction_survives_injected_task_deaths():
    """Every compactor task dies on its first attempt after its first
    group is durable; Spark retries it, and the atomic-rename writes make
    the retried compaction table-identical to a never-failed one."""
    out = subprocess.run(
        [sys.executable, "-c", _COMPACT_FAULT_SCRIPT, REPO],
        capture_output=True, text=True, timeout=600,
        env=os.environ | {"PYTHONPATH": REPO})
    assert out.returncode == 0, out.stderr[-3000:]
    rec = json.loads([ln for ln in out.stdout.splitlines() if ln.startswith("{")][-1])
    assert rec["injected"] > 0, "no task deaths were injected"
    assert rec["files"] > 0
    assert rec["equal"], "retried compaction differs from a clean one"
    assert rec["tmp_left"] == 0
