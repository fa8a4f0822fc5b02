"""Spans, their self time, order statistics, and Spark's own counters
read over py4j (never from the web UI).

Spans are kept in memory and summarised when the run ends. Spark
counters are read per *window*: :meth:`SparkCounters.mark` before a call
and :meth:`SparkCounters.collect` after it cover every job, stage and SQL
execution the call started -- including eager jobs a query runs while it
is being built and jobs a streaming query runs on its own thread, which a
job group set on the caller's thread would miss. The benchmark drives one
closed-loop client, so nothing else starts jobs inside a window.
"""

from __future__ import annotations

import math
import os
import re
import resource
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Iterator

# --- spans -------------------------------------------------------------------


@dataclass
class Span:
    name: str
    start: float
    end: float = math.nan
    parent: int | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. Span ids are list indexes."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._open: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs) -> Iterator[Span]:
        parent = self._open[-1] if self._open else None
        sp = Span(name, time.perf_counter(), parent=parent, attrs=attrs)
        self.spans.append(sp)
        self._open.append(len(self.spans) - 1)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._open.pop()


def self_time(span: Span, children: list[Span]) -> float:
    """The span's duration minus the part of it its children cover
    (overlapping children are counted once, parts outside the span not
    at all)."""
    covered = 0.0
    cur_lo = cur_hi = None
    for lo, hi in sorted(
        (max(c.start, span.start), min(c.end, span.end)) for c in children
    ):
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        covered += cur_hi - cur_lo
    return span.seconds - covered


# --- order statistics --------------------------------------------------------


def median(values: list[float]) -> float:
    if not values:
        return 0.0
    s = sorted(values)
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2.0


def tail(values: list[float], beyond: int = 10) -> tuple[float, float, int] | None:
    """The highest percentile with at least ``beyond`` samples above it:
    ``(percentile, value, sample count)``, or None when there are too few
    samples for any percentile to qualify."""
    n = len(values)
    if n <= beyond:
        return None
    k = n - beyond - 1  # 0-based rank; exactly `beyond` samples sit above it
    return 100.0 * (k + 1) / n, sorted(values)[k], n


# --- process memory ----------------------------------------------------------


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(jvm_pid: int | None) -> float:
    """Peak resident memory of this Python process plus the driver JVM."""
    kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    if jvm_pid:
        kb += _vm_hwm_kb(jvm_pid)
    return kb / 1024.0


def loadavg() -> list[float]:
    return list(os.getloadavg())


# --- Spark counters ----------------------------------------------------------

_QUANTITY = re.compile(r"(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]*)")
_SCALE = {
    "": 1.0, "B": 1.0, "KiB": 1024.0, "MiB": 1024.0 ** 2, "GiB": 1024.0 ** 3,
    "TiB": 1024.0 ** 4, "ms": 1.0, "s": 1e3, "m": 60e3, "h": 3600e3,
}
PY_SENT = "data sent to Python workers"
PY_RECEIVED = "data returned from Python workers"
PY_RUN = "time to run Python workers"
PY_ROWS = "number of output rows"
_PY_FIELDS = {
    PY_SENT: "py_sent",
    PY_RECEIVED: "py_received",
    PY_RUN: "py_time_ms",
    PY_ROWS: "py_rows",
}


def parse_metric_value(text: str) -> float:
    """A SQL metric as the status store formats it: ``'1,234'``,
    ``'4.4 KiB'``, ``'83 ms'``, or a task summary whose second line
    starts with the total (``'total (min, med, max ...)\\n1.2 s (...)'``).
    Sizes come back in bytes and times in ms; Spark formats sizes and
    durations to one decimal of their unit."""
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _QUANTITY.match(line.strip())
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _SCALE.get(m.group(2), 1.0)


@dataclass
class Window:
    jobs: int = 0
    stages: int = 0
    failed_tasks: int = 0
    shuffle_bytes: int = 0
    output_bytes: int = 0
    executions: int = 0
    py_sent: float = 0.0
    py_received: float = 0.0
    py_rows: float = 0.0
    py_time_ms: float = 0.0


class SparkCounters:
    """Jobs, stages, task failures, shuffle/output bytes and Python-
    boundary SQL metrics for every job and SQL execution started between
    :meth:`mark` and :meth:`collect`."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._sc = sc._jsc.sc()
        self._jtracker = sc._jsc.statusTracker()
        self._app_store = self._sc.statusStore()
        self._sql_store = spark._jsparkSession.sharedState().statusStore()
        self._jsc = sc._jsc
        self._next_job = 0
        self._next_exec = 0
        self.mark()

    def _drain(self) -> None:
        self._sc.listenerBus().waitUntilEmpty()

    def mark(self) -> None:
        self._drain()
        self._next_job = self._sc.dagScheduler().numTotalJobs()
        n = self._sql_store.executionsCount()
        self._next_exec = (
            self._sql_store.executionsList(n - 1, 1).head().executionId() + 1
            if n
            else 0
        )

    def persistent_rdds(self) -> int:
        return self._jsc.getPersistentRDDs().size()

    def collect(self, python: bool = False) -> Window:
        self._drain()
        w = Window()
        stage_ids: set[int] = set()
        end_job = self._sc.dagScheduler().numTotalJobs()
        for job in range(self._next_job, end_job):
            info = self._jtracker.getJobInfo(job)
            if info is None:  # evicted from the status store
                continue
            w.jobs += 1
            stage_ids.update(info.stageIds())
        self._next_job = end_job
        for sid in stage_ids:
            data = self._app_store.lastStageAttempt(sid)
            if data.status().toString() == "SKIPPED":
                continue
            w.stages += 1
            w.failed_tasks += data.numFailedTasks()
            w.shuffle_bytes += data.shuffleWriteBytes()
            w.output_bytes += data.outputBytes()
        while True:
            ui = self._sql_store.execution(self._next_exec)
            if ui.isEmpty():
                break
            w.executions += 1
            # Only an execution with a Python node can carry its metrics.
            if python and PY_SENT in ui.get().metrics().toString():
                self._python_metrics(self._next_exec, w)
            self._next_exec += 1
        return w

    def _python_metrics(self, exec_id: int, w: Window) -> None:
        """Add the execution's Python-node metrics: each node of its plan
        graph that sends data to Python workers, with that node's own
        metrics, looked up by accumulator id in the execution's values."""
        values = self._sql_store.executionMetrics(exec_id)
        nodes = self._sql_store.planGraph(exec_id).allNodes()
        for i in range(nodes.size()):
            seq = nodes.apply(i).metrics()
            metrics = [seq.apply(j) for j in range(seq.size())]
            if not any(m.name() == PY_SENT for m in metrics):
                continue
            for m in metrics:
                field = _PY_FIELDS.get(m.name())
                value = values.get(m.accumulatorId()) if field else None
                if value is not None and value.isDefined():
                    setattr(w, field, getattr(w, field) + parse_metric_value(value.get()))


def catalyst_ms(df) -> float:
    """Analysis + optimization + planning of the DataFrame's own plan, from
    its QueryPlanningTracker."""
    phases = df._jdf.queryExecution().tracker().phases()
    total = 0
    for phase in ("analysis", "optimization", "planning"):
        p = phases.get(phase)
        if p.isDefined():
            total += p.get().durationMs()
    return float(total)
