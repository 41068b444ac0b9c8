"""Measurement from outside the program: spans, process-tree memory,
Spark's event log, Catalyst phase times and a streaming listener.

Nothing here edits or patches ``frontpage_spark``. Spans wrap the
benchmark's own calls into the program; everything else is read from
interfaces Spark already has:

* the event log (``spark.eventLog.enabled``), switched on as a JVM
  system property before a SparkContext starts, so the program's own
  session factory picks it up as launch conf, and parsed offline;
* ``df._jdf.queryExecution().tracker().phases()`` for Catalyst's
  analysis / optimization / planning times;
* a ``StreamingQueryListener`` registered on the session for
  micro-batch ``durationMs`` breakdowns.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field
from datetime import datetime


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------

def cpu_ticks() -> tuple[int, int]:
    """(busy, stolen) clock ticks summed over this machine's CPUs, from
    /proc/stat. Stolen ticks are time a virtual CPU was ready to run
    while the hypervisor ran another guest."""
    with open("/proc/stat") as f:
        user, nice, system, _idle, _iowait, irq, softirq, steal = map(int, f.readline().split()[1:9])
    return user + nice + system + irq + softirq, steal


@dataclass
class Span:
    name: str
    t0: float
    t1: float = 0.0
    parent: int | None = None
    attrs: dict = field(default_factory=dict)
    ticks0: tuple[int, int] = (0, 0)
    ticks1: tuple[int, int] = (0, 0)

    @property
    def dur(self) -> float:
        return self.t1 - self.t0

    @property
    def steal_share(self) -> float:
        """Share of the CPU time wanted during the span that the host
        gave to other guests."""
        busy = self.ticks1[0] - self.ticks0[0]
        steal = self.ticks1[1] - self.ticks0[1]
        return steal / (busy + steal) if busy + steal else 0.0

    @property
    def run_dur(self) -> float:
        """Wall with the stolen share taken out: the span's time on a
        host that ran no other guest, for work that keeps its threads
        busy. On a shared virtual machine, steal moves walls by tens of
        percent from one minute to the next."""
        return self.dur * (1.0 - self.steal_share)


class Spans:
    """In-memory span list. ``span(name)`` nests: a span opened inside
    another records it as parent. Times are epoch seconds so they line
    up with the event log's millisecond timestamps."""

    def __init__(self):
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        s = Span(name, time.time(), parent=self._stack[-1] if self._stack else None, attrs=attrs,
                 ticks0=cpu_ticks())
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        try:
            yield s
        finally:
            s.t1, s.ticks1 = time.time(), cpu_ticks()
            self._stack.pop()

    def named(self, name: str, **match) -> list[Span]:
        return [
            s for s in self.spans
            if s.name == name and all(s.attrs.get(k) == v for k, v in match.items())
        ]


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def tail(xs) -> tuple[float, int, int]:
    """Highest percentile of ``xs`` with at least ten samples above it,
    as (value, percentile, n). With fewer than eleven samples no
    percentile qualifies; the maximum is returned with percentile 100."""
    xs = sorted(xs)
    n = len(xs)
    if n <= 10:
        return (xs[-1] if xs else 0.0), 100, n
    idx = n - 11  # ten samples strictly after this one
    return xs[idx], int(100 * (idx + 1) / n), n


# ---------------------------------------------------------------------------
# process-tree memory
# ---------------------------------------------------------------------------

def tree_peak_rss_mb() -> float:
    """Sum of VmHWM -- the peak resident set the kernel keeps for each
    process -- over this process and its live descendants: the driver
    JVM and the Python worker daemon. Workers forked per task exit
    within their task and are not counted. Read it while the session
    is still up; peaks of different processes may fall at different
    moments, so the sum bounds the tree's peak from above."""
    children: dict[int, list[int]] = defaultdict(list)
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(b")") + 2:].split()[1])
        children[ppid].append(int(d))
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, ()))
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
                        break
        except OSError:
            pass
    return total / 1024.0


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------

def enable_event_log(log_dir: str | None) -> None:
    """Turn Spark's event log on (``log_dir``) or off (None) for the
    next SparkContext started in this JVM, via JVM system properties —
    SparkConf reads ``spark.*`` system properties when a context starts.
    Launches the JVM gateway if it is not running yet."""
    from pyspark import SparkContext

    SparkContext._ensure_initialized()
    system = SparkContext._jvm.java.lang.System
    if log_dir is None:
        system.setProperty("spark.eventLog.enabled", "false")
        return
    os.makedirs(log_dir, exist_ok=True)
    system.setProperty("spark.eventLog.enabled", "true")
    system.setProperty("spark.eventLog.dir", "file://" + os.path.abspath(log_dir))
    system.setProperty("spark.eventLog.compress", "false")
    system.setProperty("spark.eventLog.rolling.enabled", "false")  # one file per application


#: PythonSQLMetrics names -> short keys (see PythonSQLMetrics.scala)
PY_METRICS = {
    "time to start Python workers": "boot",
    "time to initialize Python workers": "init",
    "time to run Python workers": "total",
    "data sent to Python workers": "bytes_sent",
    "number of output rows": "rows",
}


def _walk_plan(info: dict, acc_meta: dict) -> None:
    node = info.get("nodeName", "")
    for m in info.get("metrics", ()):
        acc_meta[m["accumulatorId"]] = (node, m["name"], m.get("metricType", "sum"))
    for child in info.get("children", ()):
        _walk_plan(child, acc_meta)


def _is_python_node(node: str) -> bool:
    return "Python" in node or "Pandas" in node or "Arrow" in node


class EventLog:
    """Jobs, stages and tasks from one application's event log file.

    ``window(t0, t1)`` sums the work of jobs SUBMITTED in [t0, t1]
    (epoch seconds): a job belongs to the span that launched it, its
    stages and their tasks follow the job."""

    def __init__(self, path: str):
        self.jobs: list[tuple[float, list[int]]] = []  # (submit s, stage ids)
        self.tasks: dict[int, list[dict]] = defaultdict(list)  # stage id -> task summaries
        acc_meta: dict[int, tuple[str, str, str]] = {}
        task_events: list[dict] = []
        with open(path, encoding="utf-8") as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    self.jobs.append((ev["Submission Time"] / 1000.0, list(ev.get("Stage IDs", ()))))
                elif kind == "SparkListenerTaskEnd":
                    task_events.append(ev)
                elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                    "SparkListenerSQLAdaptiveExecutionUpdate"
                ):
                    _walk_plan(ev.get("sparkPlanInfo", {}), acc_meta)
        for ev in task_events:
            self.tasks[ev["Stage ID"]].append(self._task(ev, acc_meta))

    @staticmethod
    def _task(ev: dict, acc_meta: dict) -> dict:
        info, m = ev.get("Task Info", {}), ev.get("Task Metrics") or {}
        run = m.get("Executor Run Time", 0)
        wall = info.get("Finish Time", 0) - info.get("Launch Time", 0)
        sr, sw = m.get("Shuffle Read Metrics", {}), m.get("Shuffle Write Metrics", {})
        t = {
            "run_ms": run,
            "cpu_ns": m.get("Executor CPU Time", 0),
            "gc_ms": m.get("JVM GC Time", 0),
            # scheduler delay + deserialize: wall the task spent not running
            "wait_ms": max(0, wall - run - m.get("Result Serialization Time", 0)
                           - info.get("Getting Result Time", 0)),
            "shuffle_write": sw.get("Shuffle Bytes Written", 0),
            "shuffle_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
            "fetch_wait_ms": sr.get("Fetch Wait Time", 0),
            "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
            "records_read": (m.get("Input Metrics") or {}).get("Records Read", 0),
            "bytes_written": (m.get("Output Metrics") or {}).get("Bytes Written", 0),
            "py": defaultdict(float),
        }
        for acc in info.get("Accumulables", ()):
            meta = acc_meta.get(acc.get("ID"))
            if meta is None or not _is_python_node(meta[0]) or meta[1] not in PY_METRICS:
                continue
            try:
                v = float(acc.get("Update", 0))
            except (TypeError, ValueError):
                continue
            key = PY_METRICS[meta[1]]
            if meta[2] == "nsTiming":
                v /= 1e9
            elif meta[2] == "timing":
                v /= 1e3
            t["py"][key] += v
            if key == "rows":  # per node kind: MapInPandas, ArrowEvalPython, ...
                t["py"][f"rows@{meta[0]}"] += v
        return t

    def window(self, t0: float, t1: float) -> dict:
        out: dict[str, float] = defaultdict(float)
        for submit, stages in self.jobs:
            if not t0 <= submit <= t1:
                continue
            out["jobs"] += 1
            for sid in stages:
                tasks = self.tasks.get(sid)
                if not tasks:
                    continue  # skipped stage (shuffle reused)
                out["stages"] += 1
                for t in tasks:
                    out["tasks"] += 1
                    for k, v in t.items():
                        if k == "py":
                            for pk, pv in v.items():
                                out[f"py.{pk}"] += pv
                        else:
                            out[k] += v
        return out


def find_event_log(log_dir: str, app_id: str) -> str:
    for name in os.listdir(log_dir):
        if name.startswith(app_id) and not name.endswith(".inprogress"):
            return os.path.join(log_dir, name)
    raise FileNotFoundError(f"no event log for {app_id} in {log_dir}")


# ---------------------------------------------------------------------------
# Catalyst phases
# ---------------------------------------------------------------------------

def catalyst_phases(df) -> dict[str, float]:
    """Seconds spent in each Catalyst phase of ``df``'s own
    QueryExecution, as far as it has run (analysis is eager; the rest
    happen at the first action that uses this QueryExecution)."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        out[name] = opt.get().durationMs() / 1000.0 if opt.isDefined() else 0.0
    return out


# ---------------------------------------------------------------------------
# streaming listener
# ---------------------------------------------------------------------------

def stream_listener():
    """A StreamingQueryListener that keeps every progress event's
    ``durationMs`` map (milliseconds per micro-batch phase), keyed by the
    micro-batch's start time."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressLog(StreamingQueryListener):
        def __init__(self):
            self.lock = threading.Lock()
            self.batches: list[tuple[float, dict]] = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            started = datetime.fromisoformat(event.progress.timestamp).timestamp()
            with self.lock:
                self.batches.append((started, dict(event.progress.durationMs)))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

        def between(self, t0: float, t1: float) -> list[dict]:
            with self.lock:
                return [d for t, d in self.batches if t0 <= t <= t1]

    return ProgressLog()
