"""Spans recorded around layer calls, and the reducer that turns a traced
run's spans and Spark event log into per-layer figures.

Spans live in memory (name, start, end, parent, operation id) and are
written out once, when the run ends.  A span's self time is its duration
minus the part of it that its child spans cover.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    """In-memory span recorder; a disabled tracer records nothing."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "start": time.time(),
            "end": None,
            "parent": parent["id"] if parent else None,
            "op": op if op is not None else (parent["op"] if parent else None),
        }
        self.spans.append(rec)
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def _covered(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[dict]) -> dict[str, float]:
    """Total self time in seconds per span name."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append((s["start"], s["end"]))
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        own = (s["end"] - s["start"]) - _covered(children.get(s["id"], []))
        out[s["name"]] += own
    return dict(out)


# --------------------------------------------------------------- event log


def load_event_log(log_dir: str) -> dict:
    """Group the event log's tasks and stages by job group.

    Returns ``{"groups": {group: {"stages": {id: info}, "tasks": [...],
    "sql_start_ms": [...]}}}``; task entries carry run/cpu/gc seconds,
    shuffle and spill bytes.
    """
    (name,) = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    stage_group: dict[int, str] = {}
    exec_group: dict[int, str] = {}
    sql_start: dict[int, int] = {}
    groups: dict[str, dict] = defaultdict(
        lambda: {"stages": {}, "tasks": [], "sql_start_ms": []}
    )
    with open(os.path.join(log_dir, name)) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event", "")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                group = props.get("spark.jobGroup.id")
                if group is None:
                    continue
                for sid in ev.get("Stage IDs", []):
                    stage_group[sid] = group
                eid = props.get("spark.sql.execution.id")
                if eid is not None:
                    exec_group.setdefault(int(eid), group)
            elif kind.endswith("SparkListenerSQLExecutionStart"):
                sql_start[ev["executionId"]] = ev["time"]
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                group = stage_group.get(info["Stage ID"])
                if group is not None:
                    groups[group]["stages"][info["Stage ID"]] = {
                        "tasks": info["Number of Tasks"],
                        "wall_s": (info.get("Completion Time", 0)
                                   - info.get("Submission Time", 0)) / 1000.0,
                    }
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(ev["Stage ID"])
                m = ev.get("Task Metrics")
                if group is None or not m:
                    continue
                sr = m.get("Shuffle Read Metrics", {})
                groups[group]["tasks"].append({
                    "stage": ev["Stage ID"],
                    "run_s": m["Executor Run Time"] / 1000.0,
                    "cpu_s": m["Executor CPU Time"] / 1e9,
                    "gc_s": m["JVM GC Time"] / 1000.0,
                    "shuffle_write": m.get("Shuffle Write Metrics", {}).get(
                        "Shuffle Bytes Written", 0),
                    "shuffle_read": sr.get("Remote Bytes Read", 0)
                    + sr.get("Local Bytes Read", 0),
                    "spill": m.get("Memory Bytes Spilled", 0)
                    + m.get("Disk Bytes Spilled", 0),
                })
    for eid, t in sql_start.items():
        if eid in exec_group:
            groups[exec_group[eid]]["sql_start_ms"].append(t)
    return {"groups": dict(groups)}


def stage_metrics(log: dict, group_ids) -> dict[str, float]:
    """The ``stage.*`` figures over the given job groups."""
    stages, tasks = {}, []
    for g in group_ids:
        grp = log["groups"].get(g)
        if grp is not None:
            stages.update(grp["stages"])
            tasks.extend(grp["tasks"])
    skew = 0.0
    if stages:
        slowest = max(stages, key=lambda s: stages[s]["wall_s"])
        runs = [t["run_s"] for t in tasks if t["stage"] == slowest]
        med = statistics.median(runs) if runs else 0.0
        skew = max(runs) / med if med > 0 else 1.0
    return {
        "stage.count": len(stages),
        "stage.tasks": len(tasks),
        "stage.task_run_s": sum(t["run_s"] for t in tasks),
        "stage.gc_s": sum(t["gc_s"] for t in tasks),
        "stage.shuffle_write_bytes": sum(t["shuffle_write"] for t in tasks),
        "stage.shuffle_read_bytes": sum(t["shuffle_read"] for t in tasks),
        "stage.spill_bytes": sum(t["spill"] for t in tasks),
        "stage.task_skew": skew,
    }


def event_log_metrics(log: dict, ops, reader_read_s: float) -> dict[str, float]:
    """The figures a traced round's event log gives: stages over all its
    operations, driver planning latency, the full scan's tasks and the
    write's shuffle."""
    out = stage_metrics(log, [o.op_id for o in ops])
    groups = log["groups"]
    # action call to the operation's first SQL-execution-start event
    plan = [min(groups[o.op_id]["sql_start_ms"]) / 1000.0 - o.start_epoch
            for o in ops if o.op_id in groups and groups[o.op_id]["sql_start_ms"]]
    if plan:
        out["driver.plan_s"] = statistics.median(plan)
    for o in ops:
        grp = groups.get(o.op_id)
        if grp is None:
            continue
        if o.kind == "scan" and "scan.tasks" not in out:
            run_s = sum(t["run_s"] for t in grp["tasks"])
            n = len(grp["tasks"])
            out["scan.tasks"] = n
            out["scan.task_run_s"] = run_s
            out["scan.task_cpu_s"] = sum(t["cpu_s"] for t in grp["tasks"])
            if n and reader_read_s:
                out["scan.per_task_overhead_ms"] = (run_s - reader_read_s) / n * 1000
                out["scan.boundary_ratio"] = run_s / reader_read_s
        elif o.kind == "write" and "write.tasks" not in out and grp["stages"]:
            out["write.shuffle_bytes"] = sum(t["shuffle_write"] for t in grp["tasks"])
            out["write.tasks"] = grp["stages"][max(grp["stages"])]["tasks"]
    return out
