"""Spans and Spark counters, read from outside the library.

``Tracer`` keeps spans in memory (name, start, end, parent, job id) and
writes them out once, at exit.  ``SparkCounters`` reads Spark's own
counters at the span boundaries: the SQL status store (live with the UI
off), the application status store (jobs, tasks), and the JVM's
management beans.  ``ProgressListener`` keeps every streaming progress
report; the timed runs need it too, for the micro-batch latencies.
"""

from __future__ import annotations

import re
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener

#: SQL metric name -> per-layer metric it adds to.
SQL_METRICS = {
    "scan time": "sources.scan_ms",
    "number of files read": "sources.files_read",
    "time in aggregation build": "jvm.agg_build_ms",
    "sort time": "jvm.sort_ms",
    "shuffle bytes written": "jvm.shuffle_write_bytes",
    "shuffle write time": "jvm.shuffle_write_ms",
    "spill size": "jvm.spill_bytes",
    "time to run Python workers": "python.run_ms",
    "time to start Python workers": "python.start_ms",
    "time to initialize Python workers": "python.init_ms",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_returned",
}
_UNITS = {"": 1.0, "B": 1.0, "KiB": 2.0 ** 10, "MiB": 2.0 ** 20,
          "GiB": 2.0 ** 30, "TiB": 2.0 ** 40,
          "ms": 1.0, "s": 1e3, "m": 6e4, "h": 3.6e6}
_PLAN_METRIC = re.compile(r"SQLPlanMetric\(([^,]+),(\d+),(\w+)\)")
_METRIC_VALUE = re.compile(
    r"(\d+) -> (?:total \(min, med, max \(stageId: taskId\)\)\n)?"
    r"(-?[\d,]*\.?\d+)(?: ([A-Za-z]+))?")


def parse_sql_metrics(plan_metrics: str, values: str) -> dict[str, float]:
    """Sum the SQL metrics named in ``SQL_METRICS`` from the string forms
    of an execution's plan metrics and of its metric values."""
    names = {int(acc): name for name, acc, _ in
             _PLAN_METRIC.findall(plan_metrics) if name in SQL_METRICS}
    out: dict[str, float] = defaultdict(float)
    for acc, num, unit in _METRIC_VALUE.findall(values):
        name = names.get(int(acc))
        if name is not None:
            out[SQL_METRICS[name]] += (float(num.replace(",", ""))
                                       * _UNITS[unit])
    return out


class Tracer:
    """In-memory spans; a disabled tracer records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.job: int | None = None
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield {}
            return
        rec = {"id": len(self.spans), "name": name, "job": self.job,
               "parent": self._stack[-1]["id"] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> dict[int, float]:
        """Span id -> duration minus the time its children cover
        (children of one span never overlap: the loop is sequential)."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        return {s["id"]: s["end"] - s["start"] - child[s["id"]]
                for s in self.spans}


class SparkCounters:
    """Deltas of Spark's counters around one call (traced runs only)."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._jvm = spark._jvm
        self._bus = self._sc._jsc.sc().listenerBus()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._tracker = self._sc.statusTracker()
        self._beans = list(self._jvm.java.lang.management.ManagementFactory
                           .getGarbageCollectorMXBeans())
        self.busy_s = 0.0  # time spent reading counters
        self._drain()
        self._execs = self._sql.executionsCount()
        self._next_job = self._first_unseen_job(0)
        self._gc = self._gc_ms()

    def _drain(self) -> None:
        # the status stores are fed asynchronously by the listener bus
        self._bus.waitUntilEmpty()

    def _gc_ms(self) -> float:
        return float(sum(b.getCollectionTime() for b in self._beans))

    def _first_unseen_job(self, start: int) -> int:
        jid = start
        while self._tracker.getJobInfo(jid) is not None:
            jid += 1
        return jid

    def take(self) -> dict[str, float]:
        """Counters accumulated since the previous ``take``."""
        t0 = time.perf_counter()
        self._drain()
        out: dict[str, float] = defaultdict(float)
        n = self._sql.executionsCount()
        if n > self._execs:
            execs = self._sql.executionsList(self._execs, n - self._execs)
            for i in range(execs.size()):
                ui = execs.apply(i)
                vals = self._sql.executionMetrics(ui.executionId())
                for k, v in parse_sql_metrics(ui.metrics().toString(),
                                              vals.toString()).items():
                    out[k] += v
        self._execs = n
        end = self._first_unseen_job(self._next_job)
        for jid in range(self._next_job, end):
            out["jvm.spark_jobs"] += 1
            for sid in self._tracker.getJobInfo(jid).stageIds:
                info = self._tracker.getStageInfo(sid)
                if info is not None:
                    out["jvm.tasks"] += info.numCompletedTasks
        self._next_job = end
        gc = self._gc_ms()
        out["jvm.gc_ms"] += gc - self._gc
        self._gc = gc
        self.busy_s += time.perf_counter() - t0
        return dict(out)


class ProgressListener(StreamingQueryListener):
    """Keeps the progress reports of every streaming query by run id."""

    def __init__(self):
        self._lock = threading.Lock()
        self._done = threading.Condition(self._lock)
        self.progress: dict[str, list] = defaultdict(list)
        self.names: dict[str, str] = {}
        self.terminated: set[str] = set()

    def onQueryStarted(self, event):
        with self._lock:
            self.names[str(event.runId)] = event.name

    def onQueryProgress(self, event):
        with self._lock:
            self.progress[str(event.progress.runId)].append(event.progress)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        with self._done:
            self.terminated.add(str(event.runId))
            self._done.notify_all()

    def run_of(self, name: str, timeout: float = 30.0) -> list:
        """Progress reports of the terminated query ``name``."""
        deadline = time.monotonic() + timeout
        with self._done:
            while True:
                runs = [r for r, n in self.names.items() if n == name]
                if runs and runs[0] in self.terminated:
                    return list(self.progress[runs[0]])
                left = deadline - time.monotonic()
                if left <= 0:
                    raise TimeoutError(f"no termination event for {name}")
                self._done.wait(left)
