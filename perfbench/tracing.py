"""Tracing for the traced run: spans, job groups, codegen and the event log.

Everything here observes the program from outside:

- ``Tracer.span`` records a span (id, parent id, layer, start, end) around a
  call into one of the program's layers.  Spans stay in memory and are
  written once, at exit, with each layer's self time.
- ``Tracer.job_group`` tags the Spark jobs an operation phase launches from
  the calling thread; jobs launched from other threads (the stream, thread
  pools inside builders) are attributed by time window instead.
- ``Tracer.codegen`` reads the JVM's codegen counters over py4j.
- ``EventLog`` parses the uncompressed JSON-lines Spark event log with the
  standard library and sums task metrics and SQL metrics per phase window.

With tracing off every method is a no-op, so the untraced run measures the
program alone.
"""

from __future__ import annotations

import contextlib
import json
import time
from dataclasses import dataclass, field

PYTHON_NODES = (
    "MapInPandas", "MapInArrow", "PythonMapInArrow", "FlatMapGroupsInPandas",
    "FlatMapGroupsInArrow", "FlatMapCoGroupsInPandas", "FlatMapCoGroupsInArrow",
    "ArrowEvalPython", "BatchEvalPython", "AggregateInPandas", "WindowInPandas",
    "ArrowWindowPython", "ArrowAggregatePython", "ArrowEvalPythonUDTF", "BatchEvalPythonUDTF",
)


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    layer: str
    t0: float
    t1: float = 0.0


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._spark = None

    def attach(self, spark) -> None:
        self._spark = spark if self.enabled else None

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield None
            return
        s = Span(len(self.spans), self._stack[-1] if self._stack else None, name, layer, time.time())
        self.spans.append(s)
        self._stack.append(s.id)
        try:
            yield s
        finally:
            s.t1 = time.time()
            self._stack.pop()

    def add_span(self, name: str, layer: str, parent: int, t0: float, t1: float) -> None:
        """Record a span measured elsewhere (a Spark job from the event log)."""
        self.spans.append(Span(len(self.spans), parent, name, layer, t0, t1))

    def job_group(self, tag: str) -> None:
        if self._spark is not None:
            self._spark.sparkContext.setJobGroup(tag, tag)

    def clear_job_group(self) -> None:
        if self._spark is not None:
            self._spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)

    def codegen(self) -> tuple[int, float]:
        """(classes compiled, compile milliseconds) so far in this JVM."""
        if self._spark is None:
            return 0, 0.0
        jvm = self._spark.sparkContext._jvm
        n = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()
        ns = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime()
        return int(n), ns / 1e6

    def self_times(self) -> dict[str, float]:
        """Seconds per layer not covered by a child span."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            covered, end = 0.0, s.t0
            for c in sorted(children.get(s.id, []), key=lambda c: c.t0):
                lo, hi = max(c.t0, end), min(c.t1, s.t1)
                if hi > lo:
                    covered += hi - lo
                    end = hi
            out[s.layer] = out.get(s.layer, 0.0) + (s.t1 - s.t0) - covered
        return {k: round(v, 6) for k, v in sorted(out.items())}

    def write(self, path: str, extra: dict) -> None:
        doc = dict(extra)
        doc["self_s"] = self.self_times()
        doc["spans"] = [s.__dict__ for s in self.spans]
        with open(path, "w") as f:
            json.dump(doc, f)


def _walk(plan: dict):
    yield plan
    for c in plan.get("children", []):
        yield from _walk(c)


@dataclass
class Window:
    """One operation phase: its wall interval and its job group tag."""
    key: str
    t0: float
    t1: float
    counters: dict = field(default_factory=dict)
    jobs: list = field(default_factory=list)  # (job id, start s, end s)

    def add(self, name: str, v: float) -> None:
        self.counters[name] = self.counters.get(name, 0) + v


class EventLog:
    """Task and SQL metrics from one event-log file, summed per ``Window``."""

    def __init__(self, path: str):
        self.jobs: dict[int, dict] = {}
        self.stage_job: dict[int, int] = {}
        self.completed_stages: set[int] = set()
        self.tasks: list[tuple[int, dict, list]] = []  # (stage, metrics, accumulables)
        self.accs: dict[int, tuple[str, str]] = {}  # SQL metric id -> (node, metric)
        self.exec_start: dict[int, float] = {}
        self.driver_accs: list[tuple[int, int, float]] = []  # (execution, acc id, value)
        with open(path) as f:
            for line in f:
                self._event(json.loads(line))

    def _event(self, e: dict) -> None:
        kind = e["Event"].rsplit(".", 1)[-1]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            self.jobs[e["Job ID"]] = {"group": props.get("spark.jobGroup.id"),
                                      "t0": e["Submission Time"] / 1e3, "t1": None}
            for sid in e["Stage IDs"]:
                self.stage_job[sid] = e["Job ID"]
        elif kind == "SparkListenerJobEnd":
            self.jobs[e["Job ID"]]["t1"] = e["Completion Time"] / 1e3
        elif kind == "SparkListenerStageCompleted":
            self.completed_stages.add(e["Stage Info"]["Stage ID"])
        elif kind == "SparkListenerTaskEnd":
            self.tasks.append((e["Stage ID"], e.get("Task Metrics") or {},
                               e["Task Info"].get("Accumulables", [])))
        elif kind in ("SparkListenerSQLExecutionStart", "SparkListenerSQLAdaptiveExecutionUpdate"):
            if kind == "SparkListenerSQLExecutionStart":
                self.exec_start[e["executionId"]] = e["time"] / 1e3
            for node in _walk(e["sparkPlanInfo"]):
                for m in node["metrics"]:
                    self.accs[m["accumulatorId"]] = (node["nodeName"], m["name"])
        elif kind == "SparkListenerDriverAccumUpdates":
            for acc, v in e["accumUpdates"]:
                self.driver_accs.append((e["executionId"], acc, v))

    @staticmethod
    def _find(windows: list[Window], tag: str | None, t: float) -> Window | None:
        if tag:
            for w in windows:
                if w.key == tag:
                    return w
        for w in windows:
            if w.t0 <= t <= w.t1:
                return w
        return None

    def _sql(self, w: Window, acc: int, v: float) -> None:
        node, metric = self.accs.get(acc, ("", ""))
        if node.startswith("Scan "):
            if metric == "size of files read":
                w.add("scan_bytes", v)
            elif metric == "scan time":
                w.add("scan_s", v / 1e3)
        elif node in PYTHON_NODES:
            if metric == "number of output rows":
                w.add("python_rows", v)
            elif metric == "time to run Python workers":
                w.add("python_s", v / 1e3)

    def attribute(self, windows: list[Window]) -> None:
        """Sum jobs, stages, tasks, CPU, GC, shuffle, spill, scan and Python
        counters into the window each job or SQL execution belongs to."""
        job_win: dict[int, Window] = {}
        for jid, j in self.jobs.items():
            w = self._find(windows, j["group"], j["t0"])
            if w is not None:
                job_win[jid] = w
                w.add("jobs", 1)
                w.jobs.append((jid, j["t0"], j["t1"] or j["t0"]))
        for sid in self.completed_stages:
            w = job_win.get(self.stage_job.get(sid))
            if w is not None:
                w.add("stages", 1)
        for sid, m, accs in self.tasks:
            w = job_win.get(self.stage_job.get(sid))
            if w is None:
                continue
            w.add("tasks", 1)
            w.add("cpu_s", m.get("Executor CPU Time", 0) / 1e9)
            w.add("gc_s", m.get("JVM GC Time", 0) / 1e3)
            w.add("shuffle_bytes", (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0))
            w.add("spill_bytes", m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0))
            for a in accs:
                if a.get("Metadata") == "sql":  # SQL metric updates are logged as strings
                    self._sql(w, a["ID"], float(a["Update"]))
        for exec_id, acc, v in self.driver_accs:
            w = self._find(windows, None, self.exec_start.get(exec_id, -1.0))
            if w is not None:
                self._sql(w, acc, v)


def union_seconds(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for lo, hi in sorted(intervals):
        lo = max(lo, end)
        if hi > lo:
            total += hi - lo
            end = hi
    return total
