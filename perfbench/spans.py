"""Spans, job counts, plan shapes and Spark event-log counters.

The benchmark records a span around every call it makes into a package
layer (``<layer>.plan`` for the public call, ``<layer>.exec`` for the
action on its result) under a root ``query`` span. Spans stay in memory
and are written out once, at the end of a traced run.

In a traced run each leaf span also runs under its own Spark job group,
so the jobs a public call submits before any action (range probes,
pivot domain scans, k-means rounds) are counted per call, and the event
log can be split by span.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager

IDLE_GROUP = "perfbench-idle"

#: plan node class names, by the counter they feed
_EXCHANGES = ("ShuffleExchangeExec", "BroadcastExchangeExec")
_SCANS = ("FileSourceScanExec", "BatchScanExec")
_PYTHON_MARKERS = ("Python", "InPandas", "InArrow")


class Tracer:
    """Span recorder for one run. ``traced`` adds job groups per leaf
    span; spans themselves are always recorded (two clock reads each)."""

    def __init__(self, spark, traced: bool):
        self.traced = traced
        self.spans: list[dict] = []
        self.plans: list[dict] = []
        self._sc = spark.sparkContext
        self._stack: list[int] = []
        self._query = None
        # job-group ids never repeat, also after ``clear``
        self._groups = 0

    @contextmanager
    def query(self, name: str):
        """Root span of one query; its children share its query id."""
        qid = sum(1 for s in self.spans if s["parent"] is None)
        self._query = qid
        try:
            with self.span("query", template=name) as rec:
                yield rec
        finally:
            self._query = None

    @contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "query": self._query,
            **attrs,
        }
        group = None
        if self.traced and name != "query":
            self._groups += 1
            group = f"perfbench-{self._groups}"
            self._sc.setJobGroup(group, name)
        self.spans.append(rec)
        self._stack.append(sid)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if group is not None:
                tracker = self._sc.statusTracker()
                rec["jobs"] = len(tracker.getJobIdsForGroup(group))
                rec["group"] = group
                self._sc.setJobGroup(IDLE_GROUP, "")

    def record_plan(self, layer: str, df) -> None:
        """Count plan nodes of ``df``'s physical plan (traced runs only)."""
        if self.traced:
            shape = plan_shape(df)
            shape["layer"] = layer
            shape["query"] = self._query
            self.plans.append(shape)

    def clear(self) -> None:
        """Forget the spans and plans recorded so far (set-up and warm-up)."""
        self.spans.clear()
        self.plans.clear()

    def groups(self) -> set[str]:
        """The job groups of the recorded spans."""
        return {s["group"] for s in self.spans if "group" in s}

    # -- summaries -----------------------------------------------------------

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def query_latencies(self) -> list[float]:
        return self.durations("query")

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: each span's duration minus the
        part of it its children cover (children never overlap here: one
        client, one thread)."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out = defaultdict(float)
        for s in self.spans:
            out[s["name"]] += (s["end"] - s["start"]) - child[s["id"]]
        return dict(out)

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(
                {"spans": self.spans, "plans": self.plans,
                 "self_s": self.self_times(), **extra},
                f, indent=1, default=str,
            )


def median_or_zero(values) -> float:
    return statistics.median(values) if values else 0.0


# -- physical plan shape --------------------------------------------------------


def _children(node):
    name = node.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        # the final plan once the query ran, else the initial one
        return [node.executedPlan()]
    if name.endswith("QueryStageExec"):
        return [node.plan()]
    if name == "ReusedExchangeExec":
        return []
    kids = node.children()
    return [kids.apply(i) for i in range(kids.size())]


def plan_shape(df) -> dict:
    """Exchanges, file scans (and the distinct tables they read) and
    Python-evaluation nodes in ``df``'s executed physical plan."""
    root = df._jdf.queryExecution().executedPlan()
    counts = {"exchanges": 0, "scans": 0, "python_nodes": 0}
    tables = set()
    stack = [root]
    while stack:
        node = stack.pop()
        name = node.getClass().getSimpleName()
        if name in _EXCHANGES:
            counts["exchanges"] += 1
        elif name in _SCANS:
            counts["scans"] += 1
            try:
                tables.add(node.relation().location().rootPaths().mkString(","))
            except Exception:  # BatchScanExec has no file relation
                tables.add(node.toString())
        elif any(m in name for m in _PYTHON_MARKERS):
            counts["python_nodes"] += 1
        stack.extend(_children(node))
    counts["redundant_scans"] = counts["scans"] - len(tables)
    return counts


# -- event log ---------------------------------------------------------------


def _accumulable(info: dict, name: str) -> float:
    for acc in info.get("Accumulables", ()):
        if acc.get("Name") == name:
            try:
                return float(acc.get("Update", 0))
            except (TypeError, ValueError):
                return 0.0
    return 0.0


def parse_event_log(path: str) -> dict:
    """Per-job-group Spark counters from one application's event log.

    Returns ``{group: {jobs, stages, tasks, scheduler_delay_s,
    executor_run_s, executor_cpu_s, gc_s, shuffle_write_bytes,
    shuffle_read_bytes, spill_bytes, python_bytes_sent}}``. Scheduler
    delay is the Spark UI's: task duration minus run, deserialize,
    result-serialize and get-result time.
    """
    job_group: dict[int, str] = {}
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                group = props.get("spark.jobGroup.id") or IDLE_GROUP
                job_group[ev["Job ID"]] = group
                out[group]["jobs"] += 1
                for sid in ev.get("Stage IDs", ()):
                    stage_group.setdefault(sid, group)
            elif kind == "SparkListenerStageCompleted":
                sid = ev["Stage Info"]["Stage ID"]
                out[stage_group.get(sid, IDLE_GROUP)]["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(ev.get("Stage ID"), IDLE_GROUP)
                info = ev.get("Task Info", {})
                m = ev.get("Task Metrics") or {}
                c = out[group]
                c["tasks"] += 1
                run_ms = m.get("Executor Run Time", 0)
                duration = info.get("Finish Time", 0) - info.get("Launch Time", 0)
                delay = duration - run_ms - m.get("Executor Deserialize Time", 0) \
                    - m.get("Result Serialization Time", 0) \
                    - (info.get("Finish Time", 0) - info.get("Getting Result Time", 0)
                       if info.get("Getting Result Time", 0) else 0)
                c["scheduler_delay_s"] += max(0, delay) / 1e3
                c["executor_run_s"] += run_ms / 1e3
                c["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                c["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                sw = m.get("Shuffle Write Metrics") or {}
                c["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                sr = m.get("Shuffle Read Metrics") or {}
                c["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) \
                    + sr.get("Local Bytes Read", 0)
                c["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
                c["python_bytes_sent"] += _accumulable(
                    info, "data sent to Python workers"
                )
    return {g: dict(v) for g, v in out.items()}


def find_event_log(directory: str) -> str | None:
    """The (single) application event log in ``directory``."""
    if not os.path.isdir(directory):
        return None
    logs = [
        os.path.join(directory, n) for n in os.listdir(directory)
        if not n.startswith(".")
    ]
    return max(logs, key=os.path.getmtime) if logs else None
