"""Seeded benchmark of the mee_spark index engine.

    python3 perfbench/run.py --workload {search,churn} --seed N --seconds S --trace {0,1}

Run from the repository root. One driver process runs one workload on
``local[<cpus>]`` with one closed-loop client. The last line of stdout is
a JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``. With
``--trace 0`` the metrics are the ``end_to_end`` ones of BENCHMARK.json;
with ``--trace 1`` they are its ``per_layer`` ones (spans around public
calls plus Spark's event log), and the spans are written to
``.perfbench/spans-<workload>-<seed>.json``.
See perfbench/README.md for the workloads and the metric definitions.
"""

from __future__ import annotations

import time

T_PROCESS = time.monotonic()  # set-up time counts from process start

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".perfbench")
DEADLINE_S = 170  # the whole run, set-up and teardown included



def metric_units(kind: str) -> dict:
    """Name -> unit of the ``end_to_end`` or ``per_layer`` metrics in
    BENCHMARK.json, in its order."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["search", "churn"])
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=float)
    p.add_argument("--trace", required=True, type=int, choices=[0, 1])
    return p.parse_args(argv)


def start_spark(work: str, trace: bool):
    from pyspark.sql import SparkSession

    from mee_spark.session import recommended_conf

    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # C1 only: in a one-minute run, C2's background compilation burned
    # about half the CPU of a query call, by a different amount each run.
    # A long-lived service pays that once; here it would swamp the calls.
    # C1 only also shrinks the code cache to 48 MB, which Spark's generated
    # classes fill: the sweeper then flushed compiled methods in the middle
    # of a run and a call paid to compile them again (2-3x its CPU), so the
    # cache is made big enough to never flush. The serial collector does
    # its work on one thread, with no parallel GC threads spinning.
    b = (SparkSession.builder.master(f"local[{cores}]").appName("perfbench")
         .config("spark.driver.memory", "1g")
         .config("spark.driver.extraJavaOptions",
                 f"-Xms1g -XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=256m"
                 f" -XX:-UseCodeCacheFlushing -XX:+UseSerialGC -Djava.io.tmpdir={tmp}")
         .config("spark.local.dir", os.path.join(work, "spark-local"))
         .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false")
         .config("spark.sql.execution.arrow.pyspark.enabled", "true"))
    for k, v in recommended_conf(cores).items():
        b = b.config(k, v)
    if trace:
        os.makedirs(os.path.join(work, "eventlog"), exist_ok=True)
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", os.path.join(work, "eventlog"))
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.rolling.enabled", "false"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM and every process under this one."""
    from pyspark import SparkContext

    from tracing import descendants

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.terminate()
        try:
            proc.wait(timeout=20)
        except Exception:  # JVM ignored SIGTERM
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 20
    while (pids := descendants(os.getpid())) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in pids:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    for pid in pids:
        try:
            os.waitpid(pid, 0)
        except ChildProcessError:  # not our direct child: reaped by its parent
            pass


def layer_metrics(run, evlog, session_start: float, measured_from: float) -> dict:
    """Per-layer table of a traced run. Calls made during set-up count
    only for the set-up build."""
    from statistics import median

    import layers

    def spark_work(name, pick=lambda s: s.start >= measured_from):
        sums = [evlog.summarize(s) for s in run.tracer.named(name) if pick(s)]
        return {k: median(x[k] for x in sums) for k in sums[0]}

    full = spark_work("build.full", lambda s: True)
    incr = spark_work("build.incr")
    single = spark_work("query_wand.single")
    chain = spark_work("query_wand.chain")
    comp = spark_work("merge.compact", lambda s: s.attrs.get("compacted"))
    docmap = spark_work("docmap.assign")
    m = {
        "session.start_s": session_start,
        "build.full_jobs": full["jobs"], "build.full_task_s": full["run_s"],
        "build.full_driver_gap_s": full["driver_gap_s"],
        "build.full_shuffle_bytes": full["shuffle_bytes"],
        "build.full_spill_bytes": full["spill_bytes"],
        "build.incr_jobs": incr["jobs"], "build.incr_task_s": incr["run_s"],
        "build.incr_driver_gap_s": incr["driver_gap_s"],
        "docmap.jobs": docmap["jobs"],
        "segments.scan_bytes_per_call": single["input_bytes"],
        "query_wand.jobs_per_call": single["jobs"],
        "query_wand.driver_gap_s": single["driver_gap_s"],
        "query_wand.task_s": single["run_s"],
        "query_wand.chain_jobs_per_call": chain["jobs"],
        "merge.compact_jobs": comp["jobs"], "merge.compact_task_s": comp["run_s"],
        "merge.compact_shuffle_bytes": comp["shuffle_bytes"],
        "traced.query_cpu_s": run.e2e["query_cpu_s"],
        "traced.work_per_cpu_s": run.e2e["work_per_cpu_s"],
        "wall.setup_s": run.e2e["wall.setup_s"],
        "wall.query_p50_s": run.e2e["wall.query_p50_s"],
        "wall.work_per_s": run.e2e["wall.work_per_s"],
        "raw.setup_s": run.e2e["raw.setup_s"],
        "raw.query_cpu_s": run.e2e["raw.query_cpu_s"],
        "raw.work_per_cpu_s": run.e2e["raw.work_per_cpu_s"],
        "calib.cpu_s": run.e2e["calib.cpu_s"],
    }
    m.update(layers.segment_metrics(run.full_manifest))
    m.update(run.layer)
    for name in ("build.full_s", "build.incr_s", "build.incr_cpu_s", "merge.compact_cpu_s",
                 "textprep.docs_per_s", "docmap.assign_s",
                 "query_wand.prepare_s", "query_wand.execute_s",
                 "query_wand.chain_prepare_s", "query_wand.chain_execute_s", "merge.compact_s",
                 "merge.decode_postings_per_s", "manifest.chain_s"):
        m[name] = median(run.samples[name])
    return m


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "mee_spark")):
        print(f"perfbench: no mee_spark package under {ROOT}", file=sys.stderr)
        return 2

    def on_alarm(signum, frame):
        raise TimeoutError(f"run exceeded {DEADLINE_S} s")

    signal.signal(signal.SIGALRM, on_alarm)
    signal.alarm(DEADLINE_S)
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    work = os.path.join(OUT, f"work-{os.getpid()}")
    os.makedirs(work)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")

    from tracing import EventLog, HostEvidence, TreeMonitor, Tracer

    host = HostEvidence()
    spark = None
    try:
        with TreeMonitor() as mon:
            t0 = time.monotonic()
            spark = start_spark(work, bool(args.trace))
            session_start = time.monotonic() - t0
            import workloads

            setup, loop, e2e = workloads.WORKLOADS[args.workload]
            run = workloads.Run(spark, Tracer(bool(args.trace), mon.cpu), work, args.seed)
            setup(run)
            if args.trace:
                import layers

                # generation 1 is still on disk here: churn compacts it away
                # only in the measured loop
                rows = layers.capture_rows(run)
            run.e2e["wall.setup_s"] = time.monotonic() - T_PROCESS
            run.e2e["raw.setup_s"] = mon.cpu()
            measured_from = time.time()
            loop(run, time.monotonic() + args.seconds)
            run.e2e.update(e2e(run))
            run.e2e["setup_s"] = run.scaled(run.e2e["raw.setup_s"])
            if args.trace:
                workloads.layer_extras(run, args.workload)
                layers.spark_probes(run)
                run.layer.update(layers.codec_probe(rows))
                wand_m, wand_ok = layers.wand_probe(run, rows)
                run.layer.update(wand_m)
                run.record(wand_ok, "wand kernel replay mismatch vs oracle")
            app_id = spark.sparkContext.applicationId
            stop_spark(spark)
            spark = None
        run.e2e["peak_rss_mb"] = mon.peak / 2 ** 20
        evidence = host.finish()
        if args.trace:
            evlog = EventLog(os.path.join(work, "eventlog"), app_id)
            metrics = layer_metrics(run, evlog, session_start, measured_from)
            run.tracer.dump(os.path.join(OUT, f"spans-{args.workload}-{args.seed}.json"),
                            {"host": evidence, "errors": run.errors})
        else:
            metrics = run.e2e
    finally:
        signal.alarm(0)
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    for e in run.errors:
        print(f"error: {e}", file=sys.stderr)
    print("host " + json.dumps(evidence))
    print("calls " + json.dumps({k: [round(x, 4) for x in v] for k, v in run.samples.items()
                                 if k.startswith(("query.", "build.incr", "merge.compact", "calib."))}))
    units = metric_units("per_layer" if args.trace else "end_to_end")
    shown = units if args.trace else {  # with the timings' raw and wall-clock twins
        **units, **{n: u for n, u in metric_units("per_layer").items()
                    if n.startswith(("wall.", "raw.", "calib."))}}
    for name, unit in shown.items():
        print(f"{name:34s} {metrics[name]:>16.6g} {unit}")
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {n: {"value": float(metrics[n]), "unit": u} for n, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
