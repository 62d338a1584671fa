"""Span recorder, span summarizer and the Spark-side collector.

Spans are recorded by the benchmark's own code around its calls into the
package's public functions; nothing inside the package is instrumented.
A span has a name, its layer (the package module it wraps), start, end,
parent span and the request id shared by the spans of one query.  They
stay in memory and are written out once, when the run ends.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from contextlib import contextmanager


class Tracer:
    """In-memory span recorder; a disabled tracer records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.counts: dict[str, float] = {}
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    @contextmanager
    def span(self, name: str, layer: str, request: str | None = None):
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        with self._lock:
            sid = next(self._ids)
        if request is None and parent is not None:
            request = parent["request"]
        rec = {
            "id": sid,
            "name": name,
            "layer": layer,
            "parent": parent["id"] if parent else None,
            "request": request,
            "thread": threading.get_ident(),
            "start": time.perf_counter(),
        }
        stack.append(rec)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(rec)

    def count(self, name: str, n: float) -> None:
        if self.enabled:
            with self._lock:
                self.counts[name] = self.counts.get(name, 0) + n

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def total(self, name: str) -> float:
        return sum(self.durations(name))

    def mean(self, name: str) -> float:
        d = self.durations(name)
        return sum(d) / len(d) if d else float("nan")

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, "counts": self.counts}, fh)


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals``."""
    total, end = 0.0, float("-inf")
    for lo, hi in sorted(intervals):
        if hi <= end:
            continue
        total += hi - max(lo, end)
        end = hi
    return total


def summarize(spans: list[dict]) -> dict[str, dict]:
    """Per layer: span count, total time and self time (each span's
    duration minus the part of it its child spans cover)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out: dict[str, dict] = {}
    for s in spans:
        dur = s["end"] - s["start"]
        kids = children.get(s["id"], [])
        own = dur - _covered(
            [(max(lo, s["start"]), min(hi, s["end"])) for lo, hi in kids]
        )
        row = out.setdefault(s["layer"], {"spans": 0, "total_s": 0.0, "self_s": 0.0})
        row["spans"] += 1
        row["total_s"] += dur
        row["self_s"] += own
    return out


# -- Spark side ------------------------------------------------------------


def _jvm_map(spark, scala_map) -> dict:
    conv = spark.sparkContext._jvm.scala.jdk.javaapi.CollectionConverters
    return dict(conv.asJava(scala_map))


def _children(node) -> list:
    """Physical-plan children, descending through AQE wrappers: an
    ``AdaptiveSparkPlanExec`` into its final plan, a query stage into
    the plan it ran."""
    name = node.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        return [node.executedPlan()]
    if name.endswith("QueryStageExec"):
        return [node.plan()]
    kids = node.children()
    return [kids.apply(i) for i in range(kids.size())]


def plan_nodes(df) -> list:
    """Every node of ``df``'s executed physical plan (AQE stages
    included).  Read it after the frame has run to get final metrics."""
    out, todo = [], [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        out.append(node)
        todo.extend(_children(node))
    return out


def plan_metrics(spark, df) -> dict[str, float]:
    """Scan, Python-UDF and shuffle SQL metrics of ``df``'s executed plan,
    plus its Exchange / aggregate node counts."""
    m = dict.fromkeys(
        ["files", "bytes", "rows", "scan_ms", "udf_ms", "shuffle_bytes",
         "exchanges", "aggregates"], 0.0,
    )
    for node in plan_nodes(df):
        cls = node.getClass().getSimpleName()
        if cls.endswith("Exchange") or cls.endswith("ExchangeExec"):
            m["exchanges"] += 1
        if cls.endswith("AggregateExec"):
            m["aggregates"] += 1
        if cls.endswith("QueryStageExec") or cls == "AdaptiveSparkPlanExec":
            continue
        metrics = {k: v.value() for k, v in _jvm_map(spark, node.metrics()).items()}
        if cls == "FileSourceScanExec":
            m["files"] += metrics.get("numFiles", 0)
            m["bytes"] += metrics.get("filesSize", 0)
            m["rows"] += metrics.get("numOutputRows", 0)
            m["scan_ms"] += metrics.get("scanTime", 0)
        if "pythonTotalTime" in metrics:
            m["udf_ms"] += metrics["pythonTotalTime"]
        if cls == "ShuffleExchangeExec":
            m["shuffle_bytes"] += metrics.get("dataSize", 0)
    return m


def catalyst_ms(df) -> float:
    """Optimization + planning phase time of ``df``'s query execution."""
    phases = df._jdf.queryExecution().tracker().phases()
    total = 0.0
    for phase in ("optimization", "planning"):
        opt = phases.get(phase)
        if opt.isDefined():
            total += opt.get().durationMs()
    return total


@contextmanager
def job_group(spark, group: str, into: dict):
    """Run the block's Spark actions under job group ``group``; on exit
    ``into`` holds the group's job and task counts."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        tracker = sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        tasks = 0
        for jid in jobs:
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                stage = tracker.getStageInfo(sid)
                tasks += stage.numTasks if stage else 0
        into["jobs"] = len(jobs)
        into["tasks"] = tasks
