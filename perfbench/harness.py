"""Timing, correctness bookkeeping and tracing shared by the workloads.

Tracing is off in the runs that give the end-to-end metrics.  When it is
on, it adds three things, all from this directory and none inside the
package:

- a Spark job group ``<workload>:<op>:<phase>`` around each timed call,
  with job, stage and task counts read back from ``statusTracker``;
- a walk of each executed plan (collect/toArrow), through the AQE and
  query-stage wrappers, summing shuffle, spill and Python-boundary
  metrics;
- wrappers around public layer functions that record spans (name,
  start, end, parent, op id) in memory; they are written out at the end.
"""

from __future__ import annotations

import contextlib
import functools
import gc
import importlib
import itertools
import os
import re
import statistics
import threading
import time
from dataclasses import dataclass, field


def median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


@dataclass
class Ops:
    """Attempted and failed ops of one run, thread-safe."""

    attempted: int = 0
    failed: int = 0
    errors: list = field(default_factory=list)
    _lock: threading.Lock = field(default_factory=threading.Lock)

    def record(self, ok: bool, what: str = "") -> None:
        with self._lock:
            self.attempted += 1
            if not ok:
                self.failed += 1
                if len(self.errors) < 20:
                    self.errors.append(what)


def run_units(unit, seconds: float, spark, min_units: int = 2) -> None:
    """Call ``unit()`` until ``seconds`` have passed and at least
    ``min_units`` ran; the unit in flight when time is up completes.

    Each unit starts from a collected heap, in the JVM and in Python, so
    that garbage left by earlier units does not land at random in later
    ones; the collection is not timed."""
    t0 = time.perf_counter()
    n = 0
    while n < min_units or time.perf_counter() - t0 < seconds:
        spark._jvm.java.lang.System.gc()
        gc.collect()
        unit()
        n += 1


def warm_up(unit, units: int) -> list[float]:
    """Run ``units`` units after the cold one, outside the measured
    window, and return their times.  A fixed count, not "until two
    units agree": the JIT improves in steps (pass times 7.3, 6.9, 6.8,
    then 5.8 s), so stopping at the first pair that agrees leaves runs
    at different points of that curve."""
    times = []
    for _ in range(units):
        t0 = time.perf_counter()
        unit()
        times.append(time.perf_counter() - t0)
    return times


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the machine, from ``/proc/stat``."""
    with open("/proc/stat") as f:
        fields = [int(v) for v in f.readline().split()[1:9]]
    return fields[7], sum(fields)


def steal_frac(start: tuple[int, int], end: tuple[int, int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between
    two ``cpu_ticks()`` readings: the host noise a run was exposed to."""
    return (end[0] - start[0]) / max(end[1] - start[1], 1)


# ---- tracing ------------------------------------------------------------

#: ``SQLMetric`` entries of ``SparkPlan.metrics().toString()``
_METRIC_RE = re.compile(r"(\w+) -> SQLMetric\(id: \d+, name: .*?, value: (-?\d+)\)")

#: plan metric -> tracer counter
_PLAN_METRICS = {
    "shuffleBytesWritten": "shuffle_bytes",
    "spillSize": "spill_bytes",
    "pythonTotalTime": "py_ms",
    "pythonDataSent": "py_bytes_sent",
}


class Tracer:
    """Spans, job groups and Spark counters of one run.

    Nothing is recorded while ``enabled`` is false, and untraced runs
    install no wrappers, so their timed code is the workload alone."""

    def __init__(self, spark, workload: str):
        self.sc = spark.sparkContext
        self.workload = workload
        self.enabled = False
        self.spans: list[dict] = []
        self.counts: dict[str, dict[str, int]] = {}
        self.counters: dict[str, float] = {}
        self.plan = dict.fromkeys(_PLAN_METRICS.values(), 0)
        self.plan["result_rows"] = 0
        self._lock = threading.Lock()
        self._local = threading.local()
        self._ids = itertools.count(1)
        self._seen_jobs: set[int] = set()
        self._patched: list[tuple[object, str, object]] = []

    # -- spans --

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def new_op(self) -> int:
        return next(self._ids)

    @contextlib.contextmanager
    def span(self, name: str, op: int | None = None):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else None
        rec = {"id": next(self._ids), "name": name,
               "parent": parent["id"] if parent else None,
               "op": op or (parent["op"] if parent else None),
               "start": time.perf_counter(), "end": None}
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(rec)

    def span_times(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    # -- job groups and counts --

    @contextlib.contextmanager
    def group(self, op: str, phase: str):
        """Tag the Spark jobs started inside with a job group and add
        their job, stage and task counts to ``counts[op:phase]``."""
        if not self.enabled:
            yield
            return
        gid = f"{self.workload}:{op}:{phase}"
        keys = ("spark.jobGroup.id", "spark.job.description",
                "spark.job.interruptOnCancel")
        prev = [self.sc.getLocalProperty(k) for k in keys]
        self.sc.setJobGroup(gid, gid)
        try:
            yield
        finally:
            for k, v in zip(keys, prev):
                self.sc.setLocalProperty(k, v)
            self._count(gid)

    def _count(self, gid: str) -> None:
        # job end events reach the status store through the listener
        # bus; drain it so the jobs just finished are visible
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        add = {"jobs": 0, "stages": 0, "tasks": 0}
        for jid in tracker.getJobIdsForGroup(gid):
            with self._lock:
                if jid in self._seen_jobs:
                    continue
            info = tracker.getJobInfo(jid)
            if info is None or info.status not in ("SUCCEEDED", "FAILED"):
                continue  # still running in another thread: counted later
            with self._lock:
                if jid in self._seen_jobs:
                    continue
                self._seen_jobs.add(jid)
            add["jobs"] += 1
            for sid in info.stageIds:
                st = tracker.getStageInfo(sid)
                if st is not None and st.numCompletedTasks > 0:
                    add["stages"] += 1
                    add["tasks"] += st.numCompletedTasks
        key = gid.split(":", 1)[1]
        with self._lock:
            c = self.counts.setdefault(key, {"jobs": 0, "stages": 0, "tasks": 0})
            for k, v in add.items():
                c[k] += v

    def total_counts(self, op: str | None = None,
                     phase: str | None = None) -> dict[str, int]:
        """Counts summed over the job groups of one op and/or phase."""
        out = {"jobs": 0, "stages": 0, "tasks": 0}
        for key, c in self.counts.items():
            k_op, k_phase = key.split(":", 1)
            if op in (None, k_op) and phase in (None, k_phase):
                for k in out:
                    out[k] += c[k]
        return out

    # -- plan walk --

    def walk_plan(self, jplan) -> dict[str, int]:
        """Sum plan metrics over an executed plan, descending through
        AQE (``executedPlan``), query stages (``plan``) and subqueries;
        a reused exchange is skipped so its bytes count once."""
        found = dict.fromkeys(_PLAN_METRICS.values(), 0)
        stack = [jplan]
        while stack:
            node = stack.pop()
            cls = node.getClass().getSimpleName()
            if cls == "AdaptiveSparkPlanExec":
                stack.append(node.executedPlan())
                continue
            if cls.endswith("QueryStageExec"):
                stack.append(node.plan())
                continue
            if cls == "ReusedExchangeExec":
                continue
            for key, value in _METRIC_RE.findall(node.metrics().toString()):
                if key in _PLAN_METRICS:
                    found[_PLAN_METRICS[key]] += int(value)
            for seq in (node.children(), node.subqueries()):
                stack.extend(seq.apply(i) for i in range(seq.size()))
        return found

    def record_plan(self, df, rows: int) -> None:
        if not self.enabled:
            return
        found = self.walk_plan(df._jdf.queryExecution().executedPlan())
        with self._lock:
            for k, v in found.items():
                self.plan[k] += v
            self.plan["result_rows"] += rows

    # -- wrappers --

    def wrap(self, module: str, attr: str, span_name: str, on_return=None):
        """Replace ``module.attr`` by a wrapper that records a span;
        ``on_return(result, *args)`` may add counts."""
        mod = importlib.import_module(module)
        orig = getattr(mod, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(span_name):
                result = orig(*args, **kwargs)
            if self.enabled and on_return is not None:
                on_return(result, *args, **kwargs)
            return result

        setattr(mod, attr, wrapper)
        self._patched.append((mod, attr, orig))

    def wrap_actions(self) -> None:
        """Walk the plan of every DataFrame ``collect`` and ``toArrow``,
        including those inside the package."""
        from pyspark.sql.classic.dataframe import DataFrame

        tracer = self
        for attr, rows in (("collect", len), ("toArrow", lambda t: t.num_rows)):
            orig = getattr(DataFrame, attr)

            def wrapper(df, *a, _orig=orig, _rows=rows, **kw):
                result = _orig(df, *a, **kw)
                tracer.record_plan(df, _rows(result))
                return result

            setattr(DataFrame, attr, wrapper)
            self._patched.append((DataFrame, attr, orig))

    def unwrap(self) -> None:
        for obj, attr, orig in reversed(self._patched):
            setattr(obj, attr, orig)
        self._patched.clear()

    def add(self, name: str, value: float) -> None:
        """A counter recorded at a layer boundary (bytes, chunks)."""
        if self.enabled:
            with self._lock:
                self.counters[name] = self.counters.get(name, 0) + value


def _proc_stat(pid: int) -> list[str]:
    with open(f"/proc/{pid}/stat") as f:
        return f.read().rsplit(")", 1)[1].split()


def process_tree(root: int) -> list[int]:
    """``root`` and every process below it."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                children.setdefault(int(_proc_stat(int(entry))[1]), []).append(
                    int(entry))
            except (OSError, IndexError, ValueError):
                continue
    out, todo = [root], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def alive(pid: int) -> bool:
    try:
        return _proc_stat(pid)[0] != "Z"
    except OSError:
        return False


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def jvm_peak_rss_mb(spark) -> float:
    """``VmHWM`` of the driver JVM."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0
