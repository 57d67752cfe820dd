"""Per-job-group task metrics from an uncompressed Spark event log.

Spark writes one JSON object per line. Stages carry the job group that was
set on the submitting thread (``spark.jobGroup.id`` in the
StageSubmitted properties); the benchmark sets the group to the name of the
innermost open span (``layer.call``), so each task can be attributed to a
span. Jobs without a group are attributed to ``"(none)"``.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict

NO_GROUP = "(none)"
PYTHON_RUN = "time to run Python workers"

FIELDS = (
    "jobs", "tasks", "failed_tasks", "executor_run_s", "executor_cpu_s",
    "gc_s", "scheduler_delay_s", "peak_execution_memory_bytes",
    "shuffle_write_bytes", "spill_bytes", "python_s",
)


def read_events(log_dir: str):
    """Every event of the (single, uncompressed) log file in ``log_dir``."""
    for name in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, name)
        if name.startswith(("appstatus", ".")) or not os.path.isfile(path):
            continue
        with open(path) as f:
            for line in f:
                line = line.strip()
                if line:
                    yield json.loads(line)


def scheduler_delay_ms(info: dict, metrics: dict) -> float:
    """Spark UI's scheduler delay: task duration not spent deserializing,
    running, serializing the result or fetching it."""
    duration = info["Finish Time"] - info["Launch Time"]
    getting = info.get("Getting Result Time") or 0
    fetch = info["Finish Time"] - getting if getting > 0 else 0
    return max(
        0,
        duration
        - metrics.get("Executor Run Time", 0)
        - metrics.get("Executor Deserialize Time", 0)
        - metrics.get("Result Serialization Time", 0)
        - fetch,
    )


def _accum_ms(info: dict, name: str) -> float:
    """Sum of this task's updates to the SQL metric ``name`` (milliseconds
    for timing metrics)."""
    return sum(
        float(a["Update"]) for a in info.get("Accumulables", [])
        if a.get("Name") == name and a.get("Update") is not None
    )


def group_metrics(events) -> dict[str, dict]:
    """Job group -> sums of ``FIELDS`` (peak memory is the max over tasks)."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = defaultdict(lambda: dict.fromkeys(FIELDS, 0))
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or NO_GROUP
            out[group]["jobs"] += 1
        elif kind == "SparkListenerStageSubmitted":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or NO_GROUP
            stage_group[ev["Stage Info"]["Stage ID"]] = group
        elif kind == "SparkListenerTaskEnd":
            g = out[stage_group.get(ev["Stage ID"], NO_GROUP)]
            info = ev["Task Info"]
            m = ev.get("Task Metrics") or {}
            g["tasks"] += 1
            if info.get("Failed") or info.get("Killed"):
                g["failed_tasks"] += 1
            g["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
            g["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            g["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            g["scheduler_delay_s"] += scheduler_delay_ms(info, m) / 1e3
            g["peak_execution_memory_bytes"] = max(
                g["peak_execution_memory_bytes"], m.get("Peak Execution Memory", 0)
            )
            g["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            g["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0
            )
            g["python_s"] += _accum_ms(info, PYTHON_RUN) / 1e3
    return dict(out)


def job_intervals(events) -> list[tuple[float, float]]:
    """(submission, completion) of every job, in seconds since the epoch."""
    start: dict[int, float] = {}
    spans = []
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            start[ev["Job ID"]] = ev["Submission Time"] / 1e3
        elif kind == "SparkListenerJobEnd" and ev["Job ID"] in start:
            spans.append((start.pop(ev["Job ID"]), ev["Completion Time"] / 1e3))
    return spans
