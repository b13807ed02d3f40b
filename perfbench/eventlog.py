"""Fold a Spark event log into per-span and per-stage metrics.

The benchmark runs each layer's call inside a Spark job group named after
its span, so every job, stage and task in the log can be attributed to a
span through the job's ``spark.jobGroup.id`` property. The log is plain JSON
lines (``spark.eventLog.compress=false``, rolling off).
"""

from __future__ import annotations

import json
import statistics
from collections.abc import Iterable, Iterator

NO_GROUP = "(none)"
_MB = 1024.0 * 1024.0
#: SQL metrics of the Python nodes (mapInPandas / mapInArrow / Arrow UDFs):
#: the bytes that cross the JVM/Python boundary in each direction
PY_BYTES = ("data sent to Python workers", "data returned from Python workers")


def read_events(path: str) -> Iterator[dict]:
    with open(path) as f:
        for line in f:
            if line.strip():
                yield json.loads(line)


def _new_stage(sid: int, group: str, label: str) -> dict:
    return {"stage": sid, "group": group, "sql": label, "scopes": [],
            "tasks": 0, "durations": [], "intervals": [], "run_s": 0.0,
            "exec_cpu_s": 0.0, "task_gc_s": 0.0, "shuffle_write_mb": 0.0,
            "shuffle_read_mb": 0.0, "spill_mb": 0.0, "output_mb": 0.0,
            "py_mb": 0.0, "wall_s": 0.0}


def _scope_names(stage_info: dict) -> list[str]:
    names = []
    for rdd in stage_info.get("RDD Info") or []:
        scope = rdd.get("Scope")
        if scope:
            name = json.loads(scope).get("name", "")
            if name and name not in names:
                names.append(name)
    return names


def fold(events: Iterable[dict]) -> dict:
    """Per-stage rows and per-group job counts from an event stream.

    Returns {"stages": [row, ...], "jobs": {group: n}}. A stage belongs to
    the group of the latest job start that listed it before its tasks ran.
    Failed or killed task attempts still count: their time was spent."""
    stage_group: dict[int, str] = {}
    stage_exec: dict[int, str | None] = {}
    exec_label: dict[str, str] = {}
    jobs: dict[str, int] = {}
    stages: dict[int, dict] = {}

    def row(sid: int) -> dict:
        if sid not in stages:
            ex = stage_exec.get(sid)
            stages[sid] = _new_stage(sid, stage_group.get(sid, NO_GROUP),
                                     exec_label.get(ex, "") if ex else "")
        return stages[sid]

    for e in events:
        kind = e.get("Event", "")
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            group = props.get("spark.jobGroup.id") or NO_GROUP
            jobs[group] = jobs.get(group, 0) + 1
            for sid in e.get("Stage IDs", []):
                stage_group[sid] = group
                stage_exec[sid] = props.get("spark.sql.execution.id")
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            # a write runs its query as a nested execution: label it with the
            # root's plan (the InsertIntoHadoopFsRelationCommand and its path)
            plan = e.get("sparkPlanInfo") or {}
            root = str(e.get("rootExecutionId", e.get("executionId")))
            exec_label[str(e.get("executionId"))] = (
                exec_label.get(root) or plan.get("simpleString", "")[:120])
        elif kind == "SparkListenerTaskEnd":
            r = row(e["Stage ID"])
            info = e.get("Task Info") or {}
            m = e.get("Task Metrics") or {}
            launch, finish = info.get("Launch Time", 0), info.get("Finish Time", 0)
            r["tasks"] += 1
            r["durations"].append(max(0, finish - launch))
            if finish > launch:
                r["intervals"].append((launch, finish))
            r["run_s"] += m.get("Executor Run Time", 0) / 1e3
            r["exec_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            r["task_gc_s"] += m.get("JVM GC Time", 0) / 1e3
            r["spill_mb"] += m.get("Disk Bytes Spilled", 0) / _MB
            sw = m.get("Shuffle Write Metrics") or {}
            r["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / _MB
            sr = m.get("Shuffle Read Metrics") or {}
            r["shuffle_read_mb"] += (sr.get("Local Bytes Read", 0)
                                     + sr.get("Remote Bytes Read", 0)) / _MB
            out = m.get("Output Metrics") or {}
            r["output_mb"] += out.get("Bytes Written", 0) / _MB
        elif kind == "SparkListenerStageCompleted":
            si = e["Stage Info"]
            r = row(si["Stage ID"])
            r["scopes"] = _scope_names(si)
            if si.get("Completion Time") and si.get("Submission Time"):
                r["wall_s"] += (si["Completion Time"] - si["Submission Time"]) / 1e3
            r["py_mb"] += sum(float(a.get("Value") or 0) for a in si.get("Accumulables", [])
                              if a.get("Name") in PY_BYTES) / _MB
    return {"stages": [stages[s] for s in sorted(stages)], "jobs": jobs}


def busy_s(intervals: list[tuple[int, int]], start_ms: float, end_ms: float) -> float:
    """Seconds of [start_ms, end_ms] during which at least one task ran."""
    clipped = sorted((max(a, start_ms), min(b, end_ms)) for a, b in intervals
                     if b > start_ms and a < end_ms)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total / 1e3


def task_skew(stage_rows: list[dict]) -> float:
    """Max over stages (with ≥ 2 tasks) of max / median task duration;
    1.0 when no stage has two tasks."""
    skews = [max(r["durations"]) / max(statistics.median(r["durations"]), 1.0)
             for r in stage_rows if len(r["durations"]) >= 2]
    return max(skews, default=1.0)


def group_metrics(folded: dict, group: str, start_ms: float, end_ms: float) -> dict:
    """Scheduler-side metrics of one span: its job group's stages, with idle
    time measured against the span's driver-side window."""
    rows = [r for r in folded["stages"] if r["group"] == group]
    intervals = [iv for r in rows for iv in r["intervals"]]
    wall = max(0.0, (end_ms - start_ms) / 1e3)
    return {
        "idle_s": max(0.0, wall - busy_s(intervals, start_ms, end_ms)),
        "shuffle_mb": sum(r["shuffle_write_mb"] for r in rows),
        "spill_mb": sum(r["spill_mb"] for r in rows),
        "py_mb": sum(r["py_mb"] for r in rows),
        "task_skew": task_skew(rows),
        "tasks": sum(r["tasks"] for r in rows),
        "jobs": folded["jobs"].get(group, 0),
    }


def stage_table(folded: dict, groups: Iterable[str]) -> list[dict]:
    """Per-stage rows of the given groups, without the raw task lists."""
    keep = set(groups)
    out = []
    for r in folded["stages"]:
        if r["group"] in keep:
            d = {k: v for k, v in r.items() if k not in ("durations", "intervals")}
            d["scopes"] = "|".join(r["scopes"])
            d["skew"] = task_skew([r])
            out.append(d)
    return out
