"""Fold a Spark event log onto the benchmark's job groups.

The worker sets ``setJobGroup("<workload>/<pass>/<query>/<phase>")``
before every build, execute and check, so each job, stage and task in
the log belongs to one (pass, query, phase). Stage and task counters
come from ``SparkListenerTaskEnd``; SQL operator metrics come from the
task accumulable updates marked ``"Metadata": "sql"``, named through the
plan info of ``SparkListenerSQLExecutionStart`` /
``SQLAdaptiveExecutionUpdate``. Broadcast build time and size are driver
side metrics, posted as ``SparkListenerDriverAccumUpdates`` per SQL
execution, whose job group is on its ``SQLExecutionStart``.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict

MB = 1e6


def _event_files(log_dir: str) -> list[str]:
    """Every event file under ``log_dir``, in write order (rolling logs
    are ``eventlog_v2_<app>/events_<n>_<app>``)."""
    out = []
    for root, _, files in os.walk(log_dir):
        for f in files:
            if f.startswith((".", "appstatus")) or f.endswith(".crc"):
                continue
            idx = int(f.split("_")[1]) if f.startswith("events_") else 0
            out.append((root, idx, os.path.join(root, f)))
    return [p for _, _, p in sorted(out)]


def _walk_plan(node: dict, meta: dict) -> None:
    for m in node.get("metrics", []):
        meta[m["accumulatorId"]] = (node["nodeName"], m["name"])
    for c in node.get("children", []):
        _walk_plan(c, meta)


def fold(log_dir: str) -> dict[str, dict[str, float]]:
    """Per job group: jobs, stages, tasks, task run/GC time, shuffle,
    spill and peak memory, parquet scan time and single-task scan stage
    wall time, Python-worker bytes, broadcast build time and size."""
    events = []
    for path in _event_files(log_dir):
        with open(path) as f:
            events.extend(json.loads(line) for line in f if line.strip())

    meta: dict[int, tuple[str, str]] = {}
    exec_group: dict[int, str] = {}
    stage_group: dict[int, str] = {}
    for e in events:
        kind = e["Event"]
        if kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
            _walk_plan(e["sparkPlanInfo"], meta)
            if kind.endswith("SQLExecutionStart") and e.get("jobGroupId"):
                exec_group[e["executionId"]] = e["jobGroupId"]
        elif kind == "SparkListenerStageSubmitted":
            group = (e.get("Properties") or {}).get("spark.jobGroup.id")
            if group:
                stage_group[e["Stage Info"]["Stage ID"]] = group

    stats: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    # parquet-scan stage id -> its tasks that read at least one row
    scan_tasks: dict[int, int] = {}
    broadcast: dict[int, tuple[str, str, int]] = {}
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            group = (e.get("Properties") or {}).get("spark.jobGroup.id")
            if group:
                stats[group]["jobs"] += 1
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(e["Stage ID"])
            if group is None:
                continue
            s = stats[group]
            tm = e.get("Task Metrics") or {}
            s["tasks"] += 1
            s["run_ms"] += tm.get("Executor Run Time", 0)
            s["gc_ms"] += tm.get("JVM GC Time", 0)
            s["peak_mem"] = max(s["peak_mem"], tm.get("Peak Execution Memory", 0))
            s["spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
            sw = tm.get("Shuffle Write Metrics") or {}
            s["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
            sr = tm.get("Shuffle Read Metrics") or {}
            s["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            scan_rows = None
            for acc in (e.get("Task Info") or {}).get("Accumulables", []):
                if acc.get("Metadata") != "sql" or "Update" not in acc:
                    continue
                node, name = meta.get(acc["ID"], ("", acc.get("Name", "")))
                value = float(acc["Update"])
                if node.startswith("Scan"):
                    if name == "scan time":
                        s["scan_ms"] += value
                    elif name == "number of output rows":
                        scan_rows = (scan_rows or 0) + value
                elif name == "data sent to Python workers":
                    s["python_bytes"] += value
            if scan_rows is not None:
                stage = e["Stage ID"]
                scan_tasks[stage] = scan_tasks.get(stage, 0) + (scan_rows > 0)
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            group = stage_group.get(info["Stage ID"])
            if group is None:
                continue
            stats[group]["stages"] += 1
            if scan_tasks.get(info["Stage ID"]) == 1:
                wall = info.get("Completion Time", 0) - info.get("Submission Time", 0)
                stats[group]["single_task_scan_ms"] += max(0, wall)
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            group = exec_group.get(e["executionId"])
            for acc_id, value in e["accumUpdates"]:
                node, name = meta.get(acc_id, ("", ""))
                if group and node == "BroadcastExchange" and name in ("time to build", "data size"):
                    broadcast[acc_id] = (group, name, int(value))
    for group, name, value in broadcast.values():
        key = "broadcast_build_ms" if name == "time to build" else "broadcast_bytes"
        stats[group][key] += value
    return {g: dict(s) for g, s in stats.items()}


def sum_groups(stats: dict[str, dict[str, float]], match) -> dict[str, float]:
    """Counters summed over the groups ``match(group)`` accepts
    (``peak_mem`` is a maximum)."""
    out: dict[str, float] = defaultdict(float)
    for group, s in stats.items():
        if not match(group):
            continue
        for k, v in s.items():
            out[k] = max(out[k], v) if k == "peak_mem" else out[k] + v
    return out


