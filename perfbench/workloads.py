"""The seeded workloads: inputs, the closed-loop client, and oracle checks.

Every input comes from the run's seed through ``mee_spark.fixtures``; the
package only ever receives the generated pages and queries. One client
issues one call at a time (closed loop). Checks against the pure-Python
oracle run between calls, outside every timed region.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field
from statistics import median

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

import calibrate

from mee_spark import manifest as mf
from mee_spark.build import build_full_index, build_incremental
from mee_spark.config import IndexConfig
from mee_spark.fixtures import QUERIES_SCHEMA, gen_pages_pandas, gen_queries_pandas
from mee_spark.merge import maybe_compact
from mee_spark.oracle import OracleIndex
from mee_spark.query_wand import bm25_topk_wand
from mee_spark.textprep import extract_text_bytes

# Sizes: the search index and the churn base corpus, in docs.
SEARCH_DOCS = 3_000
CHURN_BASE_DOCS = 2_000
# Query mix: a pool of 100 fixture queries (1-5 terms, head and tail terms,
# 5 with an out-of-vocabulary term, k in {1, 5, 10, 100}).
QUERY_POOL = 100            # search: every batch call sends the whole pool
SINGLE_TERMS = 3            # single-query calls use the pool's 3-term queries
# Churn proportions per step (FIXTURES.md section 1b), of the live doc count.
ADD_SHARE, CHANGE_SHARE, DELETE_SHARE = 1 / 20, 1 / 50, 1 / 100
# maybe_compact fires once the chain is longer than this: after every step.
CHAIN_MAX = 1
# Timed single-query calls on each step's chain, after one untimed call.
CHAIN_CALLS = 5
SCORE_DIGITS = 6


def index_config() -> IndexConfig:
    # docID ranges of 2048 give every index two or more ranges. The WAND
    # threshold keeps the engine default: below it the engine scores with
    # the vectorized exhaustive kernel, which at this size is every range
    return IndexConfig(num_doc_partitions=8, num_term_buckets=16,
                       doc_range_size=1 << 11)


@dataclass
class Run:
    """Per-run state shared by the workloads and the layer probes."""

    spark: object
    tracer: object
    work: str
    seed: int
    cfg: IndexConfig = field(default_factory=index_config)
    samples: dict = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    errors: list = field(default_factory=list)
    index_dir: str = ""
    corpus_path: str = ""
    n_corpus_docs: int = 0
    queries: pd.DataFrame | None = None
    oracle: "Oracle | None" = None
    gen1_oracle: "Oracle | None" = None  # the oracle of the set-up build
    full_manifest: dict | None = None
    churn: "Churn | None" = None
    e2e: dict = field(default_factory=dict)
    layer: dict = field(default_factory=dict)

    def add(self, name: str, value: float) -> None:
        self.samples.setdefault(name, []).append(value)

    def settle(self) -> None:
        """Collect the JVM heap, so the next timed call starts from the same
        heap state and pays for its own garbage only."""
        self.spark.sparkContext._jvm.System.gc()

    def calibrate(self, warmup: bool = False) -> None:
        """One run of the calibration job, recorded as ``calib.cpu_s``
        unless it is the untimed ``warmup`` run of set-up. Every timed
        call runs one just before it, so the jobs sample the host's speed
        across the measured window."""
        self.settle()
        with self.tracer.span("calibrate", cpu=True) as sp:
            ok = calibrate.job(self.spark, len(os.sched_getaffinity(0)))
        if not warmup:
            self.add("calib.cpu_s", sp.cpu)
        self.record(ok, "calibration job returned a wrong result")

    def scaled(self, cpu: float) -> float:
        """CPU seconds on a host where the calibration job costs
        ``calibrate.QUIET_CPU_S``: scaled by the median of this run's jobs."""
        return cpu * calibrate.QUIET_CPU_S / median(self.samples["calib.cpu_s"])

    def record(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)


def write_pages(pdf: pd.DataFrame, path: str) -> None:
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), path,
                   coerce_timestamps="us")


def text_bytes(pdf: pd.DataFrame) -> int:
    return int(sum(len(extract_text_bytes(bytes(h)).encode()) for h in pdf["html"]))


def parquet_bytes(index_dir: str, gens: list[int]) -> int:
    """Bytes of the given generations' parquet files: segments, docmap
    and tombstones."""
    total = 0
    for g in gens:
        for root, _, files in os.walk(mf.gen_dir(index_dir, g)):
            total += sum(os.path.getsize(os.path.join(root, f))
                         for f in files if f.endswith(".parquet"))
    return total


def read_docmap(index_dir: str, gen: int) -> dict[str, int]:
    t = pq.read_table(os.path.join(mf.gen_dir(index_dir, gen), "docmap.parquet"),
                      columns=["url", "doc_id"])
    return dict(zip(t.column("url").to_pylist(), t.column("doc_id").to_pylist()))


class Oracle:
    """Expected top-k per query from ``OracleIndex`` over the live docs,
    ranked by the engine's output contract: score rounded to 6 digits
    descending, then doc_id ascending."""

    def __init__(self, docs: list[tuple[int, str]]) -> None:
        self.index = OracleIndex.build(docs)
        self._memo: dict[tuple[str, int], list] = {}

    def topk(self, text: str, k: int) -> list[tuple[int, float]]:
        key = (text, k)
        if key not in self._memo:
            scores = self.index.score_all(text)
            ranked = sorted(((d, float(np.round(s, SCORE_DIGITS)))
                             for d, s in scores.items()),
                            key=lambda x: (-x[1], x[0]))
            self._memo[key] = ranked[:k]
        return self._memo[key]

    def matches(self, queries: pd.DataFrame, rows: list) -> bool:
        got: dict[int, list] = {}
        for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
            got.setdefault(int(r["query_id"]), []).append((int(r["doc_id"]), r["score"]))
        for q in queries.itertuples():
            want = self.topk(q.query_text, int(q.k))
            have = got.get(int(q.query_id), [])
            if [d for d, _ in have] != [d for d, _ in want]:
                return False
            if any(abs(a - b) > 1.5 * 10 ** -SCORE_DIGITS
                   for (_, a), (_, b) in zip(have, want)):
                return False
        return True


def oracle_for(live: pd.DataFrame, doc_ids: dict[str, int]) -> Oracle:
    return Oracle([(doc_ids[u], extract_text_bytes(bytes(h)))
                   for u, h in zip(live["url"], live["html"])])


def query_call(run: Run, qpdf: pd.DataFrame, kind: str) -> None:
    """One timed ``bm25_topk_wand`` call plus collect, recorded as
    ``query.<kind>_s`` (wall) and ``query.<kind>_cpu_s`` samples; the
    result is checked against the oracle afterwards. ``kind`` is
    ``single`` or ``batch`` on a fresh index, ``chain`` on a chain of
    tombstoned generations, or ``warmup``."""
    spark, tr = run.spark, run.tracer
    qdf = spark.createDataFrame(qpdf, QUERIES_SCHEMA)
    if kind != "warmup":
        run.calibrate()
    run.settle()
    try:
        with tr.span(f"query_wand.{kind}", cpu=True, n_queries=len(qpdf)) as call:
            with tr.span("query_wand.prepare") as prep:
                out = bm25_topk_wand(spark, run.index_dir, qdf, run.cfg,
                                     round_digits=SCORE_DIGITS)
            with tr.span("query_wand.execute") as exe:
                rows = [r.asDict() for r in out.collect()]
    except Exception as e:  # a failed call counts against the error rate
        run.record(False, f"{kind} query raised {type(e).__name__}: {e}")
        return
    run.add(f"query.{kind}_s", call.wall)
    run.add(f"query.{kind}_cpu_s", call.cpu)
    prefix = {"single": "query_wand.", "chain": "query_wand.chain_"}.get(kind)
    if prefix:
        run.add(prefix + "prepare_s", prep.wall)
        run.add(prefix + "execute_s", exe.wall)
    run.record(run.oracle.matches(qpdf, rows), f"{kind} query mismatch vs oracle")


def _setup(run: Run, n_docs: int) -> None:
    """Corpus, query pool, the generation-1 index and its oracle."""
    pages = gen_pages_pandas(n_docs, 0, run.seed)
    run.corpus_path = os.path.join(run.work, "pages.parquet")
    write_pages(pages, run.corpus_path)
    run.n_corpus_docs = len(pages)
    run.queries = gen_queries_pandas(QUERY_POOL, run.seed)
    run.index_dir = os.path.join(run.work, "index")
    with run.tracer.span("build.full") as sp:
        run.full_manifest = build_full_index(
            run.spark, run.spark.read.parquet(run.corpus_path), run.cfg, run.index_dir)
    run.add("build.full_s", sp.wall)
    run.churn = Churn(run, pages)
    run.churn.doc_ids = read_docmap(run.index_dir, 1)
    run.oracle = run.gen1_oracle = oracle_for(pages, run.churn.doc_ids)


# ---------------------------------------------------------------- search


def search_setup(run: Run) -> None:
    _setup(run, SEARCH_DOCS)
    run.e2e["index_bytes_per_text_byte"] = (
        parquet_bytes(run.index_dir, [1]) / text_bytes(run.churn.live))
    # the oracle answers the whole pool once, so checks between calls stay
    # short
    for q in run.queries.itertuples():
        run.oracle.topk(q.query_text, int(q.k))
    # the first call of each kind pays JIT and Python worker start-up and
    # costs twice as much as the later ones; the second a third more and
    # the third a fifth more, so three of each run untimed. The warm-up
    # singles have the measured shape (the loop starts at the other end of
    # the order): the first call of a new shape costs more too
    order = single_order(run.queries)
    for i in (-1, -2, -3):
        query_call(run, run.queries.iloc[[order[i]]], "warmup")
        query_call(run, run.queries, "warmup")
    run.calibrate(warmup=True)  # the first job in a JVM costs more


def single_order(queries: pd.DataFrame) -> list[int]:
    """Pool rows for single-query calls: the queries of ``SINGLE_TERMS``
    terms (20 of 100), so the median is over one query shape however many
    calls a run fits: a call's cost depends on its term count. The batch
    calls cover the whole 1-5-term mix."""
    n_terms = queries["query_text"].str.split().str.len()
    return list(queries.index[n_terms == SINGLE_TERMS])


def search_loop(run: Run, deadline: float) -> None:
    """Pairs of one single-query call and one batch call of the whole pool."""
    order = single_order(run.queries)
    i = 0
    while time.monotonic() < deadline:
        query_call(run, run.queries.iloc[[order[i % len(order)]]], "single")
        query_call(run, run.queries, "batch")
        i += 1


def search_e2e(run: Run) -> dict:
    s = run.samples
    return {
        "query_cpu_s": run.scaled(median(s["query.single_cpu_s"])),
        "work_per_cpu_s": QUERY_POOL / run.scaled(median(s["query.batch_cpu_s"])),
        "raw.query_cpu_s": median(s["query.single_cpu_s"]),
        "raw.work_per_cpu_s": QUERY_POOL / median(s["query.batch_cpu_s"]),
        "calib.cpu_s": median(s["calib.cpu_s"]),
        "wall.query_p50_s": median(s["query.single_s"]),
        "wall.work_per_s": QUERY_POOL / median(s["query.batch_s"]),
    }


# ----------------------------------------------------------------- churn


class Churn:
    """Snapshot-diff refresh sequence over a live page table."""

    def __init__(self, run: Run, base: pd.DataFrame) -> None:
        self.run = run
        self.live = base.reset_index(drop=True)
        self.next_row = len(base)
        self.step_no = 0
        self.doc_ids: dict[str, int] = {}

    def next_snapshot(self) -> tuple[str, dict]:
        """Seeded step: delete 1%, change 2% and add 5% of the live docs."""
        self.step_no += 1
        rng = np.random.default_rng([self.run.seed, self.step_no])
        n = len(self.live)
        n_add, n_chg, n_del = (int(n * ADD_SHARE), int(n * CHANGE_SHARE),
                               int(n * DELETE_SHARE))
        picked = rng.choice(n, size=n_del + n_chg, replace=False)
        dele, chg = picked[:n_del], picked[n_del:]
        snap = self.live.copy()
        tail = f" w000000 w000001 changed{self.step_no}"
        snap.loc[chg, "text"] = snap.loc[chg, "text"] + tail
        snap.loc[chg, "html"] = [bytes(h).replace(b"</p></body>", tail.encode() + b"</p></body>")
                                 for h in snap.loc[chg, "html"]]
        snap.loc[chg, "warc_ts"] = snap.loc[chg, "warc_ts"] + pd.Timedelta(days=1)
        self.deleted = set(snap.loc[dele, "url"])
        snap = snap.drop(index=dele)
        new = gen_pages_pandas(n_add, self.next_row, self.run.seed)
        self.next_row += n_add
        self.live = pd.concat([snap, new], ignore_index=True)
        path = os.path.join(self.run.work, f"snapshot-{self.step_no}.parquet")
        write_pages(self.live, path)
        return path, {"docs_added": n_add, "docs_changed": n_chg, "docs_deleted": n_del}

    def refresh(self) -> None:
        """One timed ``build_incremental`` step, then its checks."""
        run = self.run
        path, want = self.next_snapshot()
        snap_df = run.spark.read.parquet(path)
        gen = max(m["generation"] for m in mf.manifest_chain(run.index_dir)) + 1
        run.calibrate()
        try:
            with run.tracer.span("build.incr", cpu=True) as sp:
                m = build_incremental(run.spark, snap_df, run.cfg, run.index_dir, gen=gen)
        except Exception as e:
            run.record(False, f"refresh raised {type(e).__name__}: {e}")
            return
        run.add("build.incr_s", sp.wall)
        run.add("build.incr_cpu_s", sp.cpu)
        run.add("synced_docs", sum(want.values()))
        got = {k: m["metrics"][k] for k in want}
        ok = got == want and m["n_docs_live"] == len(self.live)
        for u in self.deleted:
            self.doc_ids.pop(u, None)
        self.doc_ids.update(read_docmap(run.index_dir, gen))
        ok = ok and len(self.doc_ids) == len(self.live)
        run.record(ok, f"refresh step {self.step_no}: counts {got} vs {want}")
        run.oracle = oracle_for(self.live, self.doc_ids)

    def compact(self, max_chain_len: int = CHAIN_MAX) -> bool:
        """Timed ``maybe_compact``; True when it compacted."""
        run = self.run
        run.calibrate()
        try:
            with run.tracer.span("merge.compact", cpu=True) as sp:
                m = maybe_compact(run.spark, run.index_dir, run.cfg,
                                  max_chain_len=max_chain_len)
        except Exception as e:
            run.record(False, f"maybe_compact raised {type(e).__name__}: {e}")
            return False
        if m is None:
            return False
        run.add("merge.compact_s", sp.wall)
        run.add("merge.compact_cpu_s", sp.cpu)
        sp.attrs["compacted"] = True
        chain = mf.manifest_chain(run.index_dir)
        ok = (len(chain) == 1 and m["n_docs_live"] == len(self.live)
              and read_docmap(run.index_dir, m["generation"]) == self.doc_ids)
        run.record(ok, f"compaction at step {self.step_no} lost or kept wrong docs")
        return True


def churn_setup(run: Run) -> None:
    _setup(run, CHURN_BASE_DOCS)
    # an untimed calibration job starts the Python workers and compiles
    # the job's own code; each step's chain query path gets its own warm-up
    # call in the loop. An untimed refresh as well cost 15 s per run and
    # left the spread of the measured step where it was
    run.calibrate(warmup=True)


def churn_loop(run: Run, deadline: float) -> None:
    order = single_order(run.queries)
    churn, i = run.churn, 0
    while time.monotonic() < deadline:
        churn.refresh()
        if "index_bytes_per_text_byte" not in run.e2e:
            gens = [m["generation"] for m in mf.manifest_chain(run.index_dir)]
            run.e2e["index_bytes_per_text_byte"] = (
                parquet_bytes(run.index_dir, gens) / text_bytes(churn.live))
        # the first query on a new chain pays to compile the chain path and
        # costs up to half as much again as the later ones: it runs untimed
        query_call(run, run.queries.iloc[[order[-1]]], "warmup")
        for _ in range(CHAIN_CALLS):
            query_call(run, run.queries.iloc[[order[i % len(order)]]], "chain")
            i += 1
        churn.compact()


def churn_e2e(run: Run) -> dict:
    s = run.samples
    synced = sum(s["synced_docs"])
    sync_cpu = sum(s["build.incr_cpu_s"]) + sum(s.get("merge.compact_cpu_s", []))
    return {
        "query_cpu_s": run.scaled(median(s["query.chain_cpu_s"])),
        "work_per_cpu_s": synced / run.scaled(sync_cpu),
        "raw.query_cpu_s": median(s["query.chain_cpu_s"]),
        "raw.work_per_cpu_s": synced / sync_cpu,
        "calib.cpu_s": median(s["calib.cpu_s"]),
        "wall.query_p50_s": median(s["query.chain_s"]),
        "wall.work_per_s": synced / (sum(s["build.incr_s"])
                                     + sum(s.get("merge.compact_s", []))),
    }


def layer_extras(run: Run, workload: str) -> None:
    """Traced runs only, after the measured loop: the calls the workload's
    own loop does not make, so every layer has a number on both. ``search``
    gets one refresh, a query on the two-generation chain it leaves, and
    one compaction; ``churn`` gets a query on the single generation its
    last compaction left."""
    query = run.queries.iloc[[single_order(run.queries)[0]]]
    if workload == "search":
        run.churn.refresh()
        query_call(run, query, "chain")
        run.churn.compact(max_chain_len=1)
    else:
        query_call(run, query, "single")


WORKLOADS = {
    "search": (search_setup, search_loop, search_e2e),
    "churn": (churn_setup, churn_loop, churn_e2e),
}
