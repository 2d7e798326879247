"""Spans around calls into the engine's layers, and the fold of Spark's event
log into per-span stage and SQL metrics.

A span records name, layer, kind (`call` or `action`), start, end, parent and
run id, and is kept in memory until the benchmark ends. While a span is open
every Spark job started from the driver thread carries the span id as its job
group, so the event log names the span each stage and SQL execution ran for.
A disabled tracer calls straight through: untraced runs pay nothing.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import time
from collections import defaultdict


class Tracer:
    def __init__(self, sc=None):
        self.sc = sc  # None: tracing off
        self.spans: list[dict] = []
        self.run_id: str | None = None
        self._stack: list[dict] = []
        self._ids = itertools.count(1)

    @contextlib.contextmanager
    def span(self, layer: str, name: str, kind: str = "call"):
        if self.sc is None or self.run_id is None:
            yield
            return
        rec = {
            "id": f"{self.run_id}/{next(self._ids)}", "layer": layer, "name": name,
            "kind": kind, "run": self.run_id,
            "parent": self._stack[-1]["id"] if self._stack else None,
        }
        self._stack.append(rec)
        self.sc.setJobGroup(rec["id"], f"{layer}.{name}:{kind}")
        rec["start"] = time.perf_counter()
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.spans.append(rec)
            if self._stack:
                outer = self._stack[-1]
                self.sc.setJobGroup(outer["id"], f"{outer['layer']}.{outer['name']}:{outer['kind']}")
            else:  # later jobs outside any span must not inherit this one
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def call(self, layer: str, fn, *args, **kwargs):
        """fn(*args, **kwargs) inside a `call` span of `layer`: driver-side
        planning plus any jobs the call runs eagerly."""
        with self.span(layer, fn.__name__):
            return fn(*args, **kwargs)

    def action(self, layer: str, fn, name: str):
        """An action on a layer's result, inside an `action` span."""
        with self.span(layer, name, "action"):
            return fn()

    @contextlib.contextmanager
    def patched(self, owner, attr: str, layer: str):
        """Route owner.attr through a call span while the context is open —
        for layer functions the engine calls internally (the pipeline calls
        the cover join, kNN and the snapshot store)."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(layer, attr):
                return orig(*args, **kwargs)

        setattr(owner, attr, wrapper)
        try:
            yield
        finally:
            setattr(owner, attr, orig)


# -- event-log fold -----------------------------------------------------------

PY_IN = "data sent to Python workers"
PY_OUT = "data returned from Python workers"


def _walk(info: dict, execution: int, nodes: dict) -> None:
    children = info.get("children", [])
    for m in info.get("metrics", []):
        nodes.setdefault(m["accumulatorId"], {
            "exec": execution, "node": info["nodeName"], "desc": info["simpleString"],
            "children": [c["simpleString"] for c in children], "metric": m["name"],
        })
    for c in children:
        _walk(c, execution, nodes)


def fold_event_log(path: str) -> dict:
    """Per job group (span id): stage and task totals, and the SQL plan-node
    metrics of the executions that ran under it."""
    groups: dict = defaultdict(lambda: defaultdict(float))
    stage_group, stage_submit, stage_first_launch = {}, {}, {}
    exec_group: dict[int, str] = {}
    nodes: dict[int, dict] = {}
    acc = defaultdict(float)
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            ev = e["Event"]
            if ev == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                g = props.get("spark.jobGroup.id")
                if g is None:
                    continue
                groups[g]["jobs"] += 1
                if "spark.sql.execution.id" in props:
                    exec_group.setdefault(int(props["spark.sql.execution.id"]), g)
            elif ev == "SparkListenerStageSubmitted":
                info = e["Stage Info"]
                key = (info["Stage ID"], info["Stage Attempt ID"])
                stage_group[key] = (e.get("Properties") or {}).get("spark.jobGroup.id")
                stage_submit[key] = info.get("Submission Time")
            elif ev == "SparkListenerTaskEnd":
                key = (e["Stage ID"], e["Stage Attempt ID"])
                ti, tm = e["Task Info"], e.get("Task Metrics") or {}
                launch = ti["Launch Time"]
                stage_first_launch[key] = min(stage_first_launch.get(key, launch), launch)
                for a in ti.get("Accumulables", []):
                    if a.get("Metadata") == "sql":
                        acc[a["ID"]] += float(a["Update"])
                g = stage_group.get(key)
                if g is None or not tm:
                    continue
                t = groups[g]
                t["task_s"] += tm["Executor Run Time"] / 1e3
                t["cpu_s"] += tm["Executor CPU Time"] / 1e9
                t["shuffle_write_mb"] += tm["Shuffle Write Metrics"]["Shuffle Bytes Written"] / 1e6
                t["fetch_wait_s"] += tm["Shuffle Read Metrics"]["Fetch Wait Time"] / 1e3
                t["spill_mb"] += tm["Disk Bytes Spilled"] / 1e6
            elif ev == "SparkListenerStageCompleted":
                info = e["Stage Info"]
                key = (info["Stage ID"], info["Stage Attempt ID"])
                g = stage_group.get(key)
                if g is None:
                    continue
                groups[g]["stages"] += 1
                if key in stage_first_launch and stage_submit.get(key):
                    groups[g]["sched_wait_s"] += (stage_first_launch[key] - stage_submit[key]) / 1e3
            elif ev.endswith("SparkListenerSQLExecutionStart") or ev.endswith(
                "SparkListenerSQLAdaptiveExecutionUpdate"
            ):
                _walk(e["sparkPlanInfo"], int(e["executionId"]), nodes)
            elif ev.endswith("SparkListenerDriverAccumUpdates"):
                for acc_id, v in e["accumUpdates"]:
                    acc[acc_id] += float(v)
    sql = defaultdict(list)  # group -> [(node record, value)]
    for acc_id, rec in nodes.items():
        g = exec_group.get(rec["exec"])
        if g is not None and acc_id in acc:
            sql[g].append((rec, acc[acc_id]))
    for g, items in sql.items():
        groups[g]["python_in_mb"] += sum(v for r, v in items if r["metric"] == PY_IN) / 1e6
        groups[g]["python_out_mb"] += sum(v for r, v in items if r["metric"] == PY_OUT) / 1e6
    return {"groups": groups, "sql": sql}


def sql_metric(folded: dict, group_ids, node_pred, metric: str) -> float:
    """Sum of one SQL metric over the plan nodes matching node_pred in the
    executions that ran under any of group_ids."""
    total = 0.0
    for g in group_ids:
        for rec, v in folded["sql"].get(g, ()):
            if rec["metric"] == metric and node_pred(rec):
                total += v
    return total
