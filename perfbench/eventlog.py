"""Reduce a Spark event log to one row of task metrics per call tag.

The traced run starts its session with ``spark.eventLog.enabled`` and
every stage inherits the benchmark's call tag (``calls.TAG``) from the
local properties of the thread that submitted it. Scheduler delay is
taken per stage as the stage's wall minus its longest task: the time
the stage spent waiting on the driver and scheduler rather than on work.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict

from perfbench.calls import TAG

FIELDS = (
    "tasks",
    "executor_run_s",
    "executor_cpu_s",
    "scheduler_delay_s",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "gc_s",
)


def _events(log_dir: str):
    for base, dirs, files in os.walk(log_dir):
        dirs.sort()
        for name in sorted(files):
            with open(os.path.join(base, name)) as fh:
                for line in fh:
                    yield json.loads(line)


def reduce_event_log(log_dir: str) -> dict[str, dict[str, float]]:
    """{call tag: {field: total}} over every stage that ran under the tag."""
    stage_tag: dict[int, str] = {}
    stage_wall: dict[int, float] = {}
    stage_max_task: dict[int, float] = defaultdict(float)
    rows: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(FIELDS, 0.0))
    for ev in _events(log_dir):
        kind = ev.get("Event")
        if kind == "SparkListenerStageSubmitted":
            tag = (ev.get("Properties") or {}).get(TAG)
            if tag:
                stage_tag[ev["Stage Info"]["Stage ID"]] = tag
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            if "Submission Time" in info and "Completion Time" in info:
                stage_wall[info["Stage ID"]] = (
                    info["Completion Time"] - info["Submission Time"]
                ) / 1000.0
        elif kind == "SparkListenerTaskEnd":
            sid = ev["Stage ID"]
            tag = stage_tag.get(sid)
            if tag is None:
                continue
            info = ev["Task Info"]
            stage_max_task[sid] = max(
                stage_max_task[sid], (info["Finish Time"] - info["Launch Time"]) / 1000.0
            )
            tm = ev.get("Task Metrics") or {}
            read = tm.get("Shuffle Read Metrics") or {}
            write = tm.get("Shuffle Write Metrics") or {}
            row = rows[tag]
            row["tasks"] += 1
            row["executor_run_s"] += tm.get("Executor Run Time", 0) / 1000.0
            row["executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
            row["shuffle_read_bytes"] += read.get("Remote Bytes Read", 0) + read.get(
                "Local Bytes Read", 0
            )
            row["shuffle_write_bytes"] += write.get("Shuffle Bytes Written", 0)
            row["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get(
                "Disk Bytes Spilled", 0
            )
            row["gc_s"] += tm.get("JVM GC Time", 0) / 1000.0
    for sid, tag in stage_tag.items():
        if sid in stage_wall:
            rows[tag]["scheduler_delay_s"] += max(0.0, stage_wall[sid] - stage_max_task[sid])
    return dict(rows)
