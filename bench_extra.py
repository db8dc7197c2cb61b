"""Round-7 optimization measurement harness (bench.py stays FROZEN).

Reuses bench.py's session config and query list so numbers here are
directly comparable with the driver's methodology, but runs each phase
in isolation so a single change can be re-measured in minutes:

  python bench_extra.py queries [name ...]   # warm pass + timed pass at sf0.1, local[32]
  python bench_extra.py plans  [name ...]    # write .explain("formatted") to plans/local/
  python bench_extra.py build  [cores] [docs] [reps]  # fresh-JVM-style build timing
  python bench_extra.py qbatch [docs]        # 100-query WAND batch on a persisted index

Timing method matches bench.time_queries (df.count() on the returned
frame after one untimed warm pass); `plans` captures the exact plan of
the frame each query returns.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import bench  # frozen harness — reused, never modified

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
SHM = "/dev/shm/meebench_extra"


def _session(cores: int):
    os.makedirs(f"{SHM}/sparktmp", exist_ok=True)
    old = bench.SHM
    bench.SHM = SHM
    try:
        spark = bench.make_session(cores)
    finally:
        bench.SHM = old
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def run_queries(names: list[str]) -> None:
    import __spark_entry__ as em

    spark = _session(bench.CPUS)
    qs = em.queries()
    names = names or bench.TIMED_QUERIES
    warm = [n for n in names if n not in bench._END_TO_END]
    cold = {}
    t0 = time.monotonic()
    for name in warm:
        q0 = time.monotonic()
        qs[name](spark, SF_DIR).count()
        cold[name] = round(time.monotonic() - q0, 2)
    warm_sec = round(time.monotonic() - t0, 2)
    out = {}
    for name in names:
        spark.sparkContext.setJobDescription(f"timed:{name}")
        t0 = time.monotonic()
        qs[name](spark, SF_DIR).count()
        out[name] = round(time.monotonic() - t0, 2)
        spark.sparkContext.setJobDescription(None)
        print(f"[extra] {name}: {out[name]}s (cold {cold.get(name)}s)",
              file=sys.stderr, flush=True)
    print(json.dumps({"queries": out, "warm_pass_sec": warm_sec,
                      "cold": cold, "total": round(sum(out.values()), 2)}))
    spark.stop()


def run_plans(names: list[str], suffix: str = "before") -> None:
    import __spark_entry__ as em

    spark = _session(bench.CPUS)
    qs = em.queries()
    names = names or bench.TIMED_QUERIES
    # plans/local/ is gitignored: a capture never overwrites the
    # committed plans/r07/ snapshots
    plan_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                            "plans", "local")
    os.makedirs(plan_dir, exist_ok=True)
    for name in names:
        try:
            df = qs[name](spark, SF_DIR)
            txt = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        except Exception as e:  # noqa: BLE001 — record the failure, keep going
            txt = f"PLAN CAPTURE FAILED: {e}"
        with open(os.path.join(plan_dir, f"{name}_{suffix}.txt"), "w") as f:
            f.write(txt)
        print(f"[extra] plan written: {name}_{suffix}.txt", file=sys.stderr)
    spark.stop()


def run_build(cores: int, n_docs: int, reps: int) -> None:
    """Build timing in the bench's run_level shape: 50k warmup build in the
    same JVM, then `reps` timed full builds of `n_docs` docs."""
    from mee_spark.build import build_full_index
    from mee_spark.config import IndexConfig
    from mee_spark.fixtures import gen_pages

    tempfile.tempdir = f"{SHM}/work"
    os.makedirs(tempfile.tempdir, exist_ok=True)
    spark = _session(cores)
    cfg = IndexConfig(num_doc_partitions=bench.PARTITIONS, num_term_buckets=32,
                      doc_range_size=1 << 15)
    corpus = f"{SHM}/pages_{n_docs}.parquet"
    if not os.path.exists(corpus):
        gen_pages(spark, n_docs, num_partitions=bench.PARTITIONS).write.mode(
            "overwrite").parquet(corpus)
    wu = f"{SHM}/wu.parquet"
    if not os.path.exists(wu):
        gen_pages(spark, bench.WARMUP_DOCS, num_partitions=64).write.mode(
            "overwrite").parquet(wu)
    t0 = time.monotonic()
    build_full_index(spark, spark.read.parquet(wu), cfg, tempfile.mkdtemp(), gen=1)
    warmup_sec = round(time.monotonic() - t0, 2)
    builds = []
    for _ in range(reps):
        t0 = time.monotonic()
        build_full_index(spark, spark.read.parquet(corpus), cfg,
                         tempfile.mkdtemp(), gen=1)
        builds.append(round(time.monotonic() - t0, 2))
        print(f"[extra] build {builds[-1]}s", file=sys.stderr, flush=True)
    print(json.dumps({"cores": cores, "n_docs": n_docs, "warmup_sec": warmup_sec,
                      "builds": builds,
                      "docs_per_sec_best": round(n_docs / min(builds), 1)}))
    spark.stop()


def run_qbatch(n_docs: int) -> None:
    from mee_spark.build import build_full_index
    from mee_spark.config import IndexConfig
    from mee_spark.fixtures import gen_pages, gen_queries
    from mee_spark.query_wand import bm25_topk_wand

    tempfile.tempdir = f"{SHM}/work"
    os.makedirs(tempfile.tempdir, exist_ok=True)
    spark = _session(bench.SCALING_4N)
    cfg = IndexConfig(num_doc_partitions=bench.PARTITIONS, num_term_buckets=32,
                      doc_range_size=1 << 15)
    corpus = f"{SHM}/qpages_{n_docs}.parquet"
    if not os.path.exists(corpus):
        gen_pages(spark, n_docs, num_partitions=bench.PARTITIONS).write.mode(
            "overwrite").parquet(corpus)
    index_dir = f"{SHM}/qindex_{n_docs}"
    if not os.path.exists(os.path.join(index_dir, "_CURRENT")):
        build_full_index(spark, spark.read.parquet(corpus), cfg, index_dir, gen=1)
    # warmup, then 2 timed batches
    wu = f"{SHM}/wu.parquet"
    if not os.path.exists(wu):
        gen_pages(spark, bench.WARMUP_DOCS, num_partitions=64).write.mode(
            "overwrite").parquet(wu)
    build_full_index(spark, spark.read.parquet(wu), cfg, tempfile.mkdtemp(), gen=1)
    queries = gen_queries(spark, 100)
    batches = []
    for _ in range(2):
        t0 = time.monotonic()
        n = bm25_topk_wand(spark, index_dir, queries, cfg).count()
        batches.append(round(time.monotonic() - t0, 2))
        print(f"[extra] qbatch {batches[-1]}s ({n} rows)", file=sys.stderr, flush=True)
    print(json.dumps({"qindex_docs": n_docs, "batches": batches,
                      "sec_per_query_best": round(min(batches) / 100, 4)}))
    spark.stop()


if __name__ == "__main__":
    mode = sys.argv[1] if len(sys.argv) > 1 else "queries"
    if mode == "queries":
        run_queries(sys.argv[2:])
    elif mode == "plans":
        names = [a for a in sys.argv[2:] if not a.startswith("--")]
        suffix = "after" if "--after" in sys.argv else "before"
        run_plans(names, suffix)
    elif mode == "build":
        run_build(int(sys.argv[2]) if len(sys.argv) > 2 else 8,
                  int(sys.argv[3]) if len(sys.argv) > 3 else 300000,
                  int(sys.argv[4]) if len(sys.argv) > 4 else 2)
    elif mode == "qbatch":
        run_qbatch(int(sys.argv[2]) if len(sys.argv) > 2 else 600000)
    else:
        raise SystemExit(f"unknown mode {mode}")
