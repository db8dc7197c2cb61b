"""Measurement from outside the package: spans, Spark event-log summaries,
process-tree CPU time and RSS, and host evidence.

Nothing here imports ``mee_spark``. Spans are kept in memory and written
out once, when the run ends. Spark work is attributed to a span by time:
the benchmark is a single closed-loop client, so every job submitted
between a span's start and end belongs to that span's call. (Job groups
cannot do this: the package submits some jobs from its own threads, which
do not inherit the caller's group.)
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float  # epoch seconds
    end: float
    parent: int | None
    call_id: int
    attrs: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. ``enabled=False`` records nothing, so the
    untraced run pays only the clock reads the end-to-end metrics need.
    ``cpu`` reads the process tree's CPU seconds; a span opened with
    ``cpu=True`` reads it at both ends."""

    def __init__(self, enabled: bool, cpu) -> None:
        self.enabled = enabled
        self.cpu = cpu
        self.spans: list[Span] = []
        self._stack: list[int] = []

    def span(self, name: str, cpu: bool = False, **attrs):
        return _SpanCtx(self, name, cpu, attrs)

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": [s.__dict__ for s in self.spans], **extra}, f)


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, cpu: bool, attrs: dict) -> None:
        self.t, self.name, self.attrs = tracer, name, attrs
        self.read_cpu = tracer.cpu if cpu else None
        self.start = self.end = self.cpu_start = self.cpu_end = 0.0

    def __enter__(self):
        t = self.t
        if t.enabled:
            self.call_id = len(t.spans)
            t.spans.append(None)  # reserved until the span ends
            self.parent = t._stack[-1] if t._stack else None
            t._stack.append(self.call_id)
        if self.read_cpu:
            self.cpu_start = self.read_cpu()
        self.start = time.time()
        return self

    def __exit__(self, *exc):
        self.end = time.time()
        if self.read_cpu:
            self.cpu_end = self.read_cpu()
            self.attrs["cpu_s"] = self.cpu
        t = self.t
        if t.enabled:
            t._stack.pop()
            t.spans[self.call_id] = Span(self.name, self.start, self.end,
                                         self.parent, self.call_id, self.attrs)
        return False

    @property
    def wall(self) -> float:
        return self.end - self.start

    @property
    def cpu(self) -> float:
        return self.cpu_end - self.cpu_start


class EventLog:
    """Jobs, stages and task metrics parsed from one Spark event log."""

    def __init__(self, log_dir: str, app_id: str) -> None:
        self.jobs: dict[int, float] = {}      # job id -> submission (epoch s)
        self.stages: dict[tuple, dict] = {}   # (stage, attempt) -> info
        task_sums: dict[tuple, dict] = {}
        paths = glob.glob(os.path.join(log_dir, f"{app_id}*"))
        for path in paths:
            with open(path) as f:
                for line in f:
                    e = json.loads(line)
                    ev = e.get("Event")
                    if ev == "SparkListenerJobStart":
                        self.jobs[e["Job ID"]] = e["Submission Time"] / 1000.0
                    elif ev == "SparkListenerStageCompleted":
                        si = e["Stage Info"]
                        if si.get("Submission Time") and si.get("Completion Time"):
                            self.stages[(si["Stage ID"], si["Stage Attempt ID"])] = {
                                "start": si["Submission Time"] / 1000.0,
                                "end": si["Completion Time"] / 1000.0,
                            }
                    elif ev == "SparkListenerTaskEnd":
                        m = e.get("Task Metrics") or {}
                        key = (e["Stage ID"], e["Stage Attempt ID"])
                        s = task_sums.setdefault(key, dict.fromkeys(
                            ("run_s", "shuffle_bytes", "spill_bytes", "input_bytes"), 0.0))
                        s["run_s"] += m.get("Executor Run Time", 0) / 1000.0
                        s["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                            "Shuffle Bytes Written", 0)
                        s["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
                        s["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
        for key, st in self.stages.items():
            st.update(task_sums.get(key, dict.fromkeys(
                ("run_s", "shuffle_bytes", "spill_bytes", "input_bytes"), 0.0)))

    def summarize(self, span: Span) -> dict:
        """Spark work of one call: job count, summed task time and bytes,
        and the driver gap (wall time in which no stage of the call ran)."""
        # event-log times have millisecond resolution
        lo, hi = span.start - 0.002, span.end + 0.002
        jobs = sum(1 for t in self.jobs.values() if lo <= t <= hi)
        stages = [s for s in self.stages.values() if lo <= s["start"] <= hi]
        busy, cur_s, cur_e = 0.0, None, None
        for s in sorted(stages, key=lambda s: s["start"]):
            a, b = max(s["start"], span.start), min(s["end"], span.end)
            if b <= a:
                continue
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    busy += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            busy += cur_e - cur_s
        out = {"jobs": jobs, "driver_gap_s": max(span.wall - busy, 0.0)}
        for k in ("run_s", "shuffle_bytes", "spill_bytes", "input_bytes"):
            out[k] = sum(s[k] for s in stages)
        return out


def _proc_table() -> dict[int, tuple[int, int, int]]:
    """pid -> (ppid, rss bytes, CPU clock ticks). The ticks are user +
    system time of the process and of its children that have ended and
    been waited for, so summing them over a live tree counts every
    process of it once."""
    page = os.sysconf("SC_PAGE_SIZE")
    table = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            with open(f"/proc/{d}/statm") as f:
                pages = int(f.read().split()[1])
        except OSError:  # process ended while scanning
            continue
        # fields from 3 (state) on: utime, stime, cutime, cstime are 14-17
        table[int(d)] = (int(fields[1]), pages * page, sum(map(int, fields[11:15])))
    return table


def _tree(root_pid: int, table: dict) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, (ppid, *_) in table.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root_pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def descendants(root_pid: int) -> list[int]:
    return _tree(root_pid, _proc_table())[1:]


def tree_rss_bytes(root_pid: int) -> int:
    """Summed RSS of ``root_pid`` and all its descendants."""
    table = _proc_table()
    return sum(table[p][1] for p in _tree(root_pid, table) if p in table)


class TreeMonitor:
    """Background thread tracking the peak RSS of this process tree, and
    the tree's CPU clock. The thread's own CPU time is left out of the
    clock, so sampling does not count as work."""

    def __init__(self, interval: float = 0.2) -> None:
        self.interval = interval
        self.peak = 0
        self._own_cpu = 0.0
        self._tick = os.sysconf("SC_CLK_TCK")
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        return False

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(pid))
            self._own_cpu = time.thread_time()
            self._stop.wait(self.interval)

    def cpu(self) -> float:
        """CPU seconds (user + system) the process tree has used since it
        started, less this monitor's own."""
        table = _proc_table()
        ticks = sum(table[p][2] for p in _tree(os.getpid(), table) if p in table)
        return ticks / self._tick - self._own_cpu


def _cpu_ticks() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


class HostEvidence:
    """Load average and steal share over the run. Recorded, never gated on."""

    def __init__(self) -> None:
        self.load_start = os.getloadavg()
        self.ticks_start = _cpu_ticks()

    def finish(self) -> dict:
        ticks = _cpu_ticks()
        delta = [b - a for a, b in zip(self.ticks_start, ticks)]
        total = sum(delta) or 1
        return {
            "loadavg_start": list(self.load_start),
            "loadavg_end": list(os.getloadavg()),
            "steal_share": delta[7] / total if len(delta) > 7 else 0.0,
            "cpus": len(os.sched_getaffinity(0)),
        }
