"""Spans around calls into the package's layers, and their Spark cost.

A span records name, start, end and its parent span. Each span that runs
Spark work on the calling thread gets its own Spark job group, so the event
log ties every job, task and SQL execution to the span that caused it. Jobs
submitted from other threads (the HTTP handlers) carry no group and are
attributed to the innermost span whose interval holds their submission time.
Spans stay in memory; the event log is folded once, after the session stops.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
from collections import defaultdict

_PYTHON_NODE_MARKERS = ("Python", "Pandas", "InArrow")


class NullTracer:
    """Tracing off: spans cost one context-manager entry and record nothing."""

    enabled = False

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        yield None


class Tracer:
    enabled = True

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    def _set_group(self, span) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(span["id"], span["name"])

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        rec = {"id": f"span-{len(self.spans)}", "name": name,
               "parent": parent["id"] if parent else None, "attrs": attrs}
        self.spans.append(rec)
        self._stack.append(rec)
        self._set_group(rec)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self._set_group(parent)


def self_time(spans: list[dict], span: dict) -> float:
    """Span duration minus the part of it that its direct children cover."""
    kids = sorted((c["start"], c["end"]) for c in spans if c["parent"] == span["id"])
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in kids:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return (span["end"] - span["start"]) - covered


def _plan_counts(node: dict, out: dict) -> None:
    name = node.get("nodeName", "")
    if name == "Exchange":
        out["exchanges"] += 1
    elif name == "BroadcastExchange":
        out["broadcast_exchanges"] += 1
    if name.endswith("Join") or name in ("CartesianProduct",):
        out["joins"] += 1
    if any(m in name for m in _PYTHON_NODE_MARKERS):
        out["python_eval_nodes"] += 1
    for c in node.get("children", []):
        _plan_counts(c, out)


def fold_event_logs(event_dir: str, spans: list[dict]) -> dict:
    """-> {span id: cost} where cost holds the span's job count, its tasks'
    CPU, GC, spill, input and shuffle-write totals, the largest ratio of a
    stage's slowest task to its median task, and the node counts of each SQL
    execution's final (adaptive) plan."""
    by_id = {s["id"]: s for s in spans}
    exec_span: dict = {}
    stage_span: dict = {}
    final_plan: dict = {}
    task_ends: list = []
    cost = defaultdict(lambda: defaultdict(float))

    def innermost(t: float):
        best = None
        for s in spans:
            if s["start"] <= t <= s["end"] and (
                best is None or s["start"] >= best["start"]
            ):
                best = s
        return best["id"] if best else None

    for path in sorted(glob.glob(os.path.join(event_dir, "*"))):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    sid = props.get("spark.jobGroup.id")
                    if sid not in by_id:
                        sid = innermost(ev["Submission Time"] / 1000.0)
                    if sid is None:
                        continue
                    cost[sid]["jobs"] += 1
                    for st in ev["Stage IDs"]:
                        stage_span[(path, st)] = sid
                    if props.get("spark.sql.execution.id") is not None:
                        exec_span.setdefault(
                            (path, props["spark.sql.execution.id"]), sid)
                elif kind == "SparkListenerTaskEnd":
                    task_ends.append((path, ev))
                elif kind.endswith("SQLExecutionStart") or kind.endswith(
                    "SQLAdaptiveExecutionUpdate"
                ):
                    final_plan[(path, str(ev["executionId"]))] = ev["sparkPlanInfo"]

    task_times = defaultdict(list)
    for path, ev in task_ends:
        sid = stage_span.get((path, ev["Stage ID"]))
        m = ev.get("Task Metrics")
        if sid is None or not m:
            continue
        c = cost[sid]
        c["task_cpu_s"] += m["Executor CPU Time"] / 1e9
        c["gc_s"] += m["JVM GC Time"] / 1e3
        c["spill_mb"] += (m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]) / 1e6
        c["input_mb"] += m["Input Metrics"]["Bytes Read"] / 1e6
        c["shuffle_write_mb"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"] / 1e6
        task_times[(sid, path, ev["Stage ID"])].append(m["Executor Run Time"])

    for (sid, _path, _stage), runs in task_times.items():
        runs = sorted(runs)
        skew = runs[-1] / max(1, runs[len(runs) // 2])
        cost[sid]["max_task_skew"] = max(cost[sid]["max_task_skew"], skew)

    for key, sid in exec_span.items():
        plan = final_plan.get(key)
        if plan is None:
            continue
        counts = defaultdict(int)
        _plan_counts(plan, counts)
        for k in ("exchanges", "broadcast_exchanges", "joins", "python_eval_nodes"):
            cost[sid][k] += counts[k]
    return {sid: dict(c) for sid, c in cost.items()}


class LayerTotals:
    """Sums span self time and folded Spark cost per span name."""

    def __init__(self, spans: list[dict], cost: dict):
        self.spans = spans
        self.cost = cost

    def select(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def count(self, name: str) -> int:
        return len(self.select(name))

    def self_s(self, name: str) -> float:
        return sum(self_time(self.spans, s) for s in self.select(name))

    def wall_s(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.select(name))

    def metric(self, name: str, key: str, descendants: bool = False) -> float:
        ids = {s["id"] for s in self.select(name)}
        if descendants:
            grew = True
            while grew:
                more = {s["id"] for s in self.spans if s["parent"] in ids}
                grew = not more <= ids
                ids |= more
        return sum(self.cost.get(i, {}).get(key, 0.0) for i in ids)

    def max_metric(self, name: str, key: str) -> float:
        return max((self.cost.get(s["id"], {}).get(key, 0.0)
                    for s in self.select(name)), default=0.0)
