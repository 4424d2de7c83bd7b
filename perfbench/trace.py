"""Spans around layer calls, and the Spark event log read back per span.

A span is one timed call into a layer: an op, a query construction, an
action, a store method or an output check. Spans stay in memory. When
tracing is on, each span also tags the Spark jobs it launches with
``setJobGroup(span_id)``; after the session stops, :func:`read_event_log`
folds the event log's jobs, stages, tasks and SQL metrics back onto the
span that launched them.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

#: Physical plan nodes that cross the JVM/Python boundary.
PYTHON_NODES = frozenset(
    {
        "MapInArrow",
        "MapInPandas",
        "ArrowEvalPython",
        "BatchEvalPython",
        "FlatMapGroupsInPandas",
        "FlatMapGroupsInArrow",
        "FlatMapCoGroupsInPandas",
        "FlatMapCoGroupsInArrow",
        "AggregateInPandas",
        "WindowInPandas",
        "PythonMapInArrow",
    }
)


@dataclass
class Span:
    id: str
    name: str
    layer: str
    parent: str | None
    start: float
    end: float = 0.0
    #: Spark activity launched inside the span (filled from the event log).
    spark: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans; with ``spark`` set and ``enabled`` on, tags jobs.

    ``enabled`` can be switched between passes, so one traced run also
    times passes without span bookkeeping (``trace.overhead_pct``)."""

    def __init__(self, spark=None, *, enabled: bool = False) -> None:
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    def _set_group(self, span_id: str | None) -> None:
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        if span_id is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(span_id, span_id)

    @contextmanager
    def span(self, name: str, layer: str):
        """Time the body; when enabled, record it and tag its jobs."""
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(f"s{len(self.spans)}", name, layer, parent.id if parent else None, 0.0)
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s.id)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._set_group(parent.id if parent else None)

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id]

    def subtree(self, span: Span) -> list[Span]:
        out = [span]
        for c in self.children(span):
            out.extend(self.subtree(c))
        return out

    def totals(self, spans: list[Span]) -> dict:
        """Sum of the Spark activity of ``spans`` and all their children."""
        seen: set[str] = set()
        tot: dict[str, float] = {}
        for s in spans:
            for t in self.subtree(s):
                if t.id in seen:
                    continue
                seen.add(t.id)
                for k, v in t.spark.items():
                    tot[k] = tot.get(k, 0) + v
        return tot

    def attach(self, per_group: dict[str, dict]) -> None:
        by_id = {s.id: s for s in self.spans}
        for gid, metrics in per_group.items():
            if gid in by_id:
                by_id[gid].spark = metrics


def _new_counts() -> dict:
    return {
        "jobs": 0,
        "stages": 0,
        "tasks": 0,
        "task_run_ms": 0,
        "task_cpu_ns": 0,
        "shuffle_read_bytes": 0,
        "shuffle_write_bytes": 0,
        "output_bytes": 0,
        "py_sent_bytes": 0,
        "py_received_bytes": 0,
        "py_run_ms": 0,
        "py_task_run_ms": 0,
        "py_nodes": 0,
        "files_read": 0,
    }


def _plan_nodes(node: dict):
    yield node
    for c in node.get("children", []):
        yield from _plan_nodes(c)


def event_log_files(log_dir: str) -> list[str]:
    """Data files of the event logs under ``log_dir`` (plain or rolling)."""
    out = []
    for dirpath, _dirs, files in os.walk(log_dir):
        for f in sorted(files):
            if not f.startswith(".") and not f.endswith(".inprogress"):
                out.append(os.path.join(dirpath, f))
    return sorted(out)


def read_event_log(paths: list[str]) -> dict[str, dict]:
    """Per job group: jobs, completed stages, tasks, executor run and CPU
    time, shuffle and output bytes, Python-boundary SQL metrics, Python
    plan nodes and files read. Jobs without a group are dropped."""
    job_group: dict[int, str] = {}
    stage_group: dict[int, str] = {}
    exec_group: dict[int, str] = {}
    exec_nodes: dict[int, int] = {}
    metric_names: dict[int, str] = {}
    files_read: dict[int, int] = {}
    out: dict[str, dict] = {}

    def counts(gid: str) -> dict:
        return out.setdefault(gid, _new_counts())

    def learn_plan(exec_id: int, plan: dict) -> None:
        n_py = 0
        for node in _plan_nodes(plan):
            if node.get("nodeName") in PYTHON_NODES:
                n_py += 1
            for m in node.get("metrics", []):
                metric_names[m["accumulatorId"]] = m["name"]
        exec_nodes[exec_id] = n_py

    for path in paths:
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    gid = props.get("spark.jobGroup.id")
                    if gid is None:
                        continue
                    job_group[e["Job ID"]] = gid
                    counts(gid)["jobs"] += 1
                    for sid in e["Stage IDs"]:
                        stage_group.setdefault(sid, gid)
                    xid = props.get("spark.sql.execution.id")
                    if xid is not None:
                        exec_group.setdefault(int(xid), gid)
                elif kind == "SparkListenerStageCompleted":
                    gid = stage_group.get(e["Stage Info"]["Stage ID"])
                    if gid is not None:
                        counts(gid)["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    gid = stage_group.get(e["Stage ID"])
                    if gid is None:
                        continue
                    c = counts(gid)
                    m = e.get("Task Metrics") or {}
                    c["tasks"] += 1
                    run_ms = m.get("Executor Run Time", 0)
                    c["task_run_ms"] += run_ms
                    c["task_cpu_ns"] += m.get("Executor CPU Time", 0)
                    sr = m.get("Shuffle Read Metrics") or {}
                    c["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                        "Local Bytes Read", 0
                    )
                    sw = m.get("Shuffle Write Metrics") or {}
                    c["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    c["output_bytes"] += (m.get("Output Metrics") or {}).get(
                        "Bytes Written", 0
                    )
                    python_task = False
                    for a in (e.get("Task Info") or {}).get("Accumulables", []):
                        name, upd = a.get("Name"), a.get("Update")
                        if name == "data sent to Python workers":
                            c["py_sent_bytes"] += int(upd)
                            python_task = True
                        elif name == "data returned from Python workers":
                            c["py_received_bytes"] += int(upd)
                        elif name == "time to run Python workers":
                            c["py_run_ms"] += int(upd)
                    if python_task:
                        c["py_task_run_ms"] += run_ms
                elif kind.endswith("SparkListenerSQLExecutionStart"):
                    learn_plan(e["executionId"], e["sparkPlanInfo"])
                elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
                    learn_plan(e["executionId"], e["sparkPlanInfo"])
                elif kind.endswith("SparkListenerDriverAccumUpdates"):
                    xid = e["executionId"]
                    for acc_id, value in e["accumUpdates"]:
                        if metric_names.get(acc_id) == "number of files read":
                            files_read[xid] = files_read.get(xid, 0) + int(value)
    for xid, gid in exec_group.items():
        c = counts(gid)
        c["py_nodes"] += exec_nodes.get(xid, 0)
        c["files_read"] += files_read.get(xid, 0)
    return out
