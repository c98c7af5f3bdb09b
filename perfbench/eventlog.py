"""Fold a Spark event log onto the benchmark's job groups.

The traced run starts Spark with ``spark.eventLog.enabled=true`` (set from
outside the program, through ``PYSPARK_SUBMIT_ARGS``) and writes plain
JSON lines.  ``fold`` totals, per job group, what the Spark driver and the
executors did: jobs, stages, tasks, stage spans, executor CPU, GC,
shuffle bytes, spill, peak execution memory and the Python-worker SQL
metrics of Arrow/pandas UDF operators.
"""

from __future__ import annotations

import json
from collections import defaultdict

TASK_SUMS = {
    # group total key: (paths into "Task Metrics", scale)
    "executor_cpu_s": ([("Executor CPU Time",)], 1e-9),
    "gc_s": ([("JVM GC Time",)], 1e-3),
    "shuffle_read_bytes": ([("Shuffle Read Metrics", "Local Bytes Read"),
                            ("Shuffle Read Metrics", "Remote Bytes Read")], 1),
    "shuffle_write_bytes": ([("Shuffle Write Metrics", "Shuffle Bytes Written")], 1),
    "spill_bytes": ([("Disk Bytes Spilled",)], 1),
}

# SQL metrics of the Python UDF operators (ArrowEvalPython, MapInPandas,
# FlatMapGroupsInPandas), summed over a stage's tasks; times are in ms
STAGE_SQL_SUMS = {
    "python_time_s": ("time to run Python workers", 1e-3),
    "python_boot_s": ("time to start Python workers", 1e-3),
    "python_bytes_sent": ("data sent to Python workers", 1),
    "python_bytes_received": ("data returned from Python workers", 1),
}


def empty_group() -> dict:
    g = {"jobs": 0, "stages": 0, "tasks": 0, "peak_exec_mem_bytes": 0, "stage_spans": []}
    g.update({k: 0 for k in TASK_SUMS})
    g.update({k: 0 for k in STAGE_SQL_SUMS})
    return g


def fold(path: str) -> dict[str, dict]:
    """Per job group totals from the event log at ``path``."""
    groups: dict[str, dict] = defaultdict(empty_group)
    group_of_stage: dict[int, str] = {}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or "-"
                groups[group]["jobs"] += 1
                for sid in ev["Stage IDs"]:
                    group_of_stage.setdefault(sid, group)
            elif kind == "SparkListenerTaskEnd":
                g = groups[group_of_stage.get(ev["Stage ID"], "-")]
                g["tasks"] += 1
                metrics = ev.get("Task Metrics") or {}
                for key, (paths, scale) in TASK_SUMS.items():
                    for outer, *inner in paths:
                        value = metrics.get(outer, 0)
                        if inner:
                            value = (value or {}).get(inner[0], 0)
                        g[key] += value * scale
                g["peak_exec_mem_bytes"] = max(
                    g["peak_exec_mem_bytes"], metrics.get("Peak Execution Memory", 0))
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                g = groups[group_of_stage.get(info["Stage ID"], "-")]
                g["stages"] += 1
                if "Submission Time" in info and "Completion Time" in info:
                    g["stage_spans"].append(
                        (info["Submission Time"] / 1e3, info["Completion Time"] / 1e3))
                acc = {a.get("Name"): a.get("Value") for a in info.get("Accumulables", [])}
                for key, (name, scale) in STAGE_SQL_SUMS.items():
                    if name in acc:
                        g[key] += float(acc[name]) * scale
    return dict(groups)


def covered_s(spans: list[tuple[float, float]], start: float, end: float) -> float:
    """Length of the union of ``spans`` clipped to [start, end]."""
    total, reach = 0.0, start
    for a, b in sorted(spans):
        a, b = max(a, reach), min(b, end)
        if b > a:
            total += b - a
            reach = b
    return total
