"""Segment-row compaction ≡ the exploded decode → build_segments path.

``compact`` merges each (bucket, range)'s compressed segment rows in one
group, on the driver below its gate and in a Spark cogroup above it.
These tests pin, on both paths, that its output is table-identical, file
by file, to re-encoding the chain's decoded live postings through
``build_segments``, on a chain with changed docs, deleted docs, a
deletion-only generation, a term whose postings in a range are all dead
and a docID range with no live doc left; that a resumed, failed or
task-retried compaction writes the same tables; which path the gate
picks at its edges, and how many Spark jobs each runs; and that the
grouped-map kernels carry type hints PySpark can infer from.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import shutil
import subprocess
import sys
import types
import uuid
import warnings

import numpy as np
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

import mee_spark.merge as merge
import mee_spark.query_wand as qw
import mee_spark.segments as seg
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
REFERENCE_GEN = 20
# the compacted generation of each plan
PLAN_GENS = {"driver": 10, "spark": 11}
# the limits of compact's driver gate
GATE_LIMITS = ("DRIVER_MAX_DECODE_POSTINGS", "DRIVER_MAX_TOMBSTONES")


@contextlib.contextmanager
def _forced(plan: str):
    """Force ``compact``'s plan: "driver" lifts both gate limits, "spark"
    sets them to -1."""
    with pytest.MonkeyPatch.context() as mp:
        for name in GATE_LIMITS:
            mp.setattr(qw, name, 1 << 62 if plan == "driver" else -1)
        yield


def _with_job_count(spark, fn):
    """-> (``fn()``, the Spark jobs it ran), counted in a job group that
    side-write threads inherit."""
    sc = spark.sparkContext
    group = f"compact-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "compaction")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


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
def built(spark, tmp_path_factory):
    """The chain, and its exploded rebuild as generation REFERENCE_GEN:
    the live postings, expanded back to one row per token instance (the
    segment writer's input), written by ``build_segments``."""
    d = str(tmp_path_factory.mktemp("segmerge"))
    facts = _build_chain(spark, d)
    tokens = (decoded_postings(spark, d, facts["gens"], CFG.doc_range_size)
              .withColumn("_", F.explode(F.array_repeat(F.lit(0), F.col("tf").cast("int"))))
              .select("term", "doc_id", "dl"))
    build_segments(tokens, CFG, d, REFERENCE_GEN)
    return d, facts


@pytest.fixture(scope="module", params=list(PLAN_GENS))
def chain(request, spark, built):
    """The chain compacted by one plan, forced through the gate."""
    d, facts = built
    plan = request.param
    with _forced(plan):
        m, jobs = _with_job_count(spark, lambda: compact(
            spark, d, CFG, new_gen=PLAN_GENS[plan], publish=False))
    return d, {**facts, "plan": plan, "gen": PLAN_GENS[plan], "manifest": m,
               "jobs": jobs}


def test_compact_matches_exploded_rebuild(spark, chain):
    d, facts = chain
    _assert_same_segments(d, facts["gen"], REFERENCE_GEN)
    want = live_docmap(spark, d, facts["gens"]).toPandas()
    cols = sorted(want.columns)
    want = want[cols].sort_values("url").reset_index(drop=True)
    # Spark and pyarrow read the docmap alike, whichever wrote it
    for got in (spark.read.parquet(_docmap_path(d, facts["gen"])).toPandas(),
                pq.read_table(_docmap_path(d, facts["gen"])).to_pandas()):
        assert got[cols].sort_values("url").reset_index(drop=True).equals(want)
        assert not set(got["url"]) & facts["range1"]


def test_compaction_records_its_plan_and_jobs(chain):
    d, facts = chain
    assert facts["manifest"]["metrics"]["plan"] == facts["plan"]
    assert mf.read_manifest(d, facts["gen"])["metrics"]["plan"] == facts["plan"]
    # the driver plan runs no Spark job; the cogroup plan runs some
    if facts["plan"] == "driver":
        assert facts["jobs"] == 0
    else:
        assert facts["jobs"] > 0


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
    assert (_postings_by_url(spark, d, facts["gen"])
            == _postings_by_url(spark, full, 1))


def test_compact_drops_dead_terms_and_empty_ranges(chain):
    d, facts = chain

    def table(gen):
        return pq.read_table(mf.segments_dir(d, gen)).to_pandas()

    old, new = table(1), table(facts["gen"])
    # the range whose docs all died had files and now has none
    assert (old["range_id"] == 1).any() and not (new["range_id"] == 1).any()
    # a term dead in its range leaves that range's term list
    assert (old["term"] == "zzsolo").any() and not (new["term"] == "zzsolo").any()


def test_resumed_compaction_rewrites_only_missing_groups(spark, chain):
    d, facts = chain
    gen = facts["gen"]
    ckpt = mf.checkpoints_dir(d, gen)
    done = sorted(mf.completed_checkpoints(d, gen))
    dropped = done[::2]
    for b, r in dropped:
        os.remove(os.path.join(ckpt, mf.checkpoint_name(b, r)))
        os.remove(os.path.join(mf.segments_dir(d, gen), f"bucket={b}",
                               f"range_{r}.parquet"))
    with _forced(facts["plan"]):
        m = compact(spark, d, CFG, new_gen=gen, publish=False)
    assert m["metrics"]["plan"] == facts["plan"]
    assert sorted(mf.completed_checkpoints(d, gen)) == done
    assert len(m["metrics"]["partitions"]) == len(done)
    _assert_same_segments(d, gen, REFERENCE_GEN)


def test_failed_driver_compaction_reruns_only_missing_groups(spark, built,
                                                             monkeypatch):
    """A driver compaction whose compactor raises after some groups leaves
    their files and checkpoints; the rerun compacts only the other groups
    and is table-identical to a clean run."""
    d, _ = built
    gen, orig = 40, merge._make_compactor
    calls: list[tuple] = []

    def counting(fail_after: int | None):
        def make(seg_root, ckpt_root, block_size):
            inner = orig(seg_root, ckpt_root, block_size)

            def compact_group(key, segs, tombs):
                if len(calls) == fail_after:
                    raise RuntimeError("injected compactor failure")
                calls.append((int(key[0]), int(key[1])))
                return inner(key, segs, tombs)
            return compact_group
        return make

    monkeypatch.setattr(merge, "_make_compactor", counting(fail_after=5))
    with _forced("driver"), pytest.raises(RuntimeError, match="injected"):
        compact(spark, d, CFG, new_gen=gen, publish=False)
    survived = mf.completed_checkpoints(d, gen)
    assert 0 < len(survived) <= 5 and not os.path.exists(mf.manifest_path(d, gen))
    calls.clear()
    monkeypatch.setattr(merge, "_make_compactor", counting(fail_after=None))
    with _forced("driver"):
        m = compact(spark, d, CFG, new_gen=gen, publish=False)
    assert m["metrics"]["plan"] == "driver"
    assert calls and not set(calls) & survived
    assert len(m["metrics"]["partitions"]) == len(mf.completed_checkpoints(d, gen))
    _assert_same_segments(d, gen, REFERENCE_GEN)


def _chain_counts(index_dir: str) -> tuple[int, int]:
    """(postings, tombstones) of the published chain, from its manifests."""
    chain = mf.manifest_chain(index_dir)
    return (sum(p["n_postings"] for m in chain for p in m["metrics"]["partitions"]),
            mf.tombstone_count(chain))


@pytest.mark.parametrize("limit", GATE_LIMITS)
def test_gate_edges_pick_the_plan(spark, built, limit, monkeypatch):
    """One below the chain's count, the limit sends the chain to Spark; at
    the exact count it stays on the driver."""
    d, _ = built
    count = dict(zip(GATE_LIMITS, _chain_counts(d)))[limit]
    assert count > 0
    gen = 50 + 2 * GATE_LIMITS.index(limit)
    for other in GATE_LIMITS:
        monkeypatch.setattr(qw, other, 1 << 62)
    for value, plan in ((count - 1, "spark"), (count, "driver")):
        monkeypatch.setattr(qw, limit, value)
        m, jobs = _with_job_count(spark, lambda: compact(
            spark, d, CFG, new_gen=gen, publish=False))
        assert (m["metrics"]["plan"], jobs > 0) == (plan, plan == "spark")
        gen += 1


def test_chain_without_recorded_groups_compacts_in_spark(spark, built, tmp_path):
    """A manifest that records no ``partitions`` (hand-written, as in
    ``test_chain_soak::test_compaction_due_metadata_only``) counts as above
    the gate, however small the chain."""
    d = str(tmp_path / "ix")
    shutil.copytree(built[0], d)
    m2 = mf.read_manifest(d, 2)
    del m2["metrics"]["partitions"]
    with open(mf.manifest_path(d, 2), "w") as f:
        json.dump(m2, f)
    m = compact(spark, d, CFG, new_gen=60, publish=False)
    assert m["metrics"]["plan"] == "spark"
    _assert_same_segments(d, 60, REFERENCE_GEN)


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
        # the cogroup kernel runs only on the Spark plan
        with _forced("spark"):
            compact(spark, d, CFG, new_gen=3)
    msgs = [str(w.message) for w in caught]
    assert not [m for m in msgs if "Cannot infer the eval type" in m], msgs


_COMPACT_FAULT_SCRIPT = r"""
import os, sys, tempfile, json, glob
sys.path.insert(0, sys.argv[1])
import pyarrow.parquet as pq
from pyspark.sql import SparkSession
import mee_spark.merge as merge
import mee_spark.query_wand as qw
import mee_spark.segments as seg
from mee_spark import manifest as mf
from mee_spark.build import build_full_index, build_incremental
from mee_spark.config import IndexConfig
from mee_spark.fixtures import gen_pages_for_indices

# task retries happen only on the Spark plan: force it for every compaction
qw.DRIVER_MAX_DECODE_POSTINGS = qw.DRIVER_MAX_TOMBSTONES = -1
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
leftovers = glob.glob(os.path.join(mf.segments_dir(d, 11), "bucket=*", "*.tmp"),
                      include_hidden=True)
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


def test_torn_segment_temp_file_is_not_read(spark, tmp_path, monkeypatch):
    """A segment writer killed mid-write leaves its truncated temp file
    beside the bucket's segment files. The temp name is hidden, so a
    query and a compaction of that bucket never read it."""
    d = str(tmp_path / "ix")
    base = gen_pages_for_indices(range(150))
    state = dict(zip(base["url"], base["text"]))

    def snap():
        return spark.createDataFrame(sorted(state.items()), "url string, text string")

    build_full_index(spark, snap(), CFG, d, gen=1, use_html=False)
    for u in sorted(state)[::7]:
        state[u] += " edited w000001"
    build_incremental(spark, snap(), CFG, d, gen=2, use_html=False)
    queries = gen_queries(spark, 20)
    want = sorted(map(tuple, bm25_topk_wand(spark, d, queries, CFG).collect()))

    def torn_write(table, where, **kw):
        pq.write_table(table, where, **kw)
        with open(where, "r+b") as f:
            f.truncate(os.path.getsize(where) // 2)
        raise OSError("writer killed mid-write")

    bucket, name = _segment_files(d, 1)[0].split(os.sep)
    bucket, range_id = int(bucket.split("=")[1]), int(name[6:].split(".")[0])
    monkeypatch.setattr(seg, "pq", types.SimpleNamespace(write_table=torn_write))
    with pytest.raises(OSError, match="mid-write"):
        seg.write_segment(mf.segments_dir(d, 1), str(tmp_path / "ckpt"),
                          CFG.block_size, bucket, range_id,
                          np.array(["alpha"], dtype=object), np.zeros(1, np.int64),
                          np.array([range_id * CFG.doc_range_size]),
                          np.ones(1, np.int64), np.ones(1, np.int64), 0.0)
    monkeypatch.undo()
    bucket_dir = os.path.join(mf.segments_dir(d, 1), f"bucket={bucket}")
    assert glob.glob(os.path.join(bucket_dir, "*.tmp"), include_hidden=True)

    assert sorted(map(tuple, bm25_topk_wand(spark, d, queries, CFG).collect())) == want
    compact(spark, d, CFG, new_gen=3)
    assert mf.current_gen(d) == 3
    assert sorted(map(tuple, bm25_topk_wand(spark, d, queries, CFG).collect())) == want
