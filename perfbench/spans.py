"""Spans and Spark-side counters for the traced benchmark run.

A span is (name, start, end, parent, request id), recorded around a
call from the benchmark into one layer's public function. Spans live in
memory and are written as JSON when the run ends. A span's self time is
its duration minus the time its direct children cover; time that no
span covers is reported as `unattributed_s`.

`SparkCounters` reads what Spark itself measured for one operation:
the executed plan's node metrics (Python UDF, exchange and broadcast
nodes), the job group's jobs, stages and tasks from the status
tracker, and the executor's cumulative task and GC time.
"""
from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    rid: str | None


class Tracer:
    """Records spans when enabled; every method is a cheap no-op when not."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str, rid: str | None = None):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        if rid is None and parent is not None:
            rid = self.spans[parent].rid
        idx = len(self.spans)
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, rid))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def self_times(self) -> dict[str, list[float]]:
        """Span name → self time of each instance, in seconds."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        out: dict[str, list[float]] = defaultdict(list)
        for i, s in enumerate(self.spans):
            out[s.name].append(s.end - s.start - child[i])
        return out

    def durations(self, name: str) -> list[float]:
        return [s.end - s.start for s in self.spans if s.name == name]

    def covered_s(self) -> float:
        """Time covered by top-level spans."""
        return sum(s.end - s.start for s in self.spans if s.parent is None)

    def write(self, path: str, meta: dict) -> None:
        with open(path, "w") as f:
            json.dump({"meta": meta, "t0": self.t0,
                       "spans": [asdict(s) for s in self.spans]}, f)


def _metric_value(metric) -> float:
    """One SQLMetric in seconds, bytes or rows, whatever its own unit."""
    kind = metric.metricType()
    v = float(metric.value())
    if kind == "timing":
        return v / 1e3
    if kind == "nsTiming":
        return v / 1e9
    return v


def plan_metrics(dataset) -> dict[str, float]:
    """Sum the executed plan's node metrics that name a layer.

    Walks the final adaptive plan through its query stages. Reused
    exchanges are not descended, so nothing is counted twice. The
    benchmark's own single-partition exchange (the global checksum
    aggregate) is left out of the shuffle figures."""
    out: dict[str, float] = defaultdict(float)
    stack = [dataset._jdf.queryExecution().executedPlan()]
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
        vals = {}
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            vals[kv._1()] = _metric_value(kv._2())
        name = node.nodeName()
        if "pythonTotalTime" in vals:
            out["python_s"] += vals["pythonTotalTime"]
            out["python_boot_s"] += vals.get("pythonBootTime", 0.0)
            out["python_init_s"] += vals.get("pythonInitTime", 0.0)
            out["arrow_out_mb"] += vals.get("pythonDataSent", 0.0) / 2**20
            out["arrow_in_mb"] += vals.get("pythonDataReceived", 0.0) / 2**20
        if name == "Exchange" and "shuffleBytesWritten" in vals:
            if "SinglePartition" not in (
                    node.outputPartitioning().getClass().getSimpleName()):
                out["shuffle_write_mb"] += vals["shuffleBytesWritten"] / 2**20
                out["shuffle_write_s"] += vals.get("shuffleWriteTime", 0.0)
        if name == "BroadcastExchange":
            out["broadcast_mb"] += vals.get("dataSize", 0.0) / 2**20
            out["broadcast_build_s"] += (vals.get("collectTime", 0.0)
                                         + vals.get("buildTime", 0.0)
                                         + vals.get("broadcastTime", 0.0))
        ch = node.children().iterator()
        while ch.hasNext():
            stack.append(ch.next())
    return dict(out)


class SparkCounters:
    """Job-group and executor counters around one operation."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._n = 0
        self._group: str | None = None
        self._exec0 = (0.0, 0.0)

    def _executor_totals(self) -> tuple[float, float]:
        """(task run seconds summed over executors, once the listener bus
        has delivered every finished task; GC seconds of the JVM, which
        in local mode hosts the driver and the executor alike)."""
        self._jsc.listenerBus().waitUntilEmpty()
        execs = self._jsc.statusStore().executorList(True)
        run = sum(execs.apply(i).totalDuration() for i in range(execs.size()))
        beans = (self.sc._jvm.java.lang.management.ManagementFactory
                 .getGarbageCollectorMXBeans())
        gc = sum(beans.get(i).getCollectionTime() for i in range(beans.size()))
        return run / 1e3, gc / 1e3

    def begin(self) -> None:
        self._n += 1
        self._group = f"perfbench-{self._n}"
        self.sc.setJobGroup(self._group, self._group)
        self._exec0 = self._executor_totals()

    def end(self) -> dict[str, float]:
        run, gc = self._executor_totals()
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(self._group)
        stages = tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for sid in (list(info.stageIds) if info else []):
                sinfo = st.getStageInfo(sid)
                if sinfo is not None and sinfo.numCompletedTasks > 0:
                    stages += 1
                    tasks += sinfo.numCompletedTasks
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        return {"jobs": float(len(jobs)), "stages": float(stages),
                "tasks": float(tasks), "run_s": run - self._exec0[0],
                "gc_s": gc - self._exec0[1]}
