"""Offline parser for a Spark event log (one JSON event per line).

The benchmark enables ``spark.eventLog`` on its own session and tags
each timed pass with a job group.  Every successful task of a job in a
group is charged to that group: stage ids come from
``SparkListenerJobStart`` (which carries the job's local properties,
``spark.jobGroup.id`` among them), task metrics from
``SparkListenerTaskEnd``.
"""

from __future__ import annotations

import json
import statistics
from dataclasses import dataclass

MB = 1e6


@dataclass(frozen=True)
class Task:
    group: str
    stage: int
    wall_ms: int  # Finish Time - Launch Time
    run_ms: int  # Executor Run Time
    cpu_ns: int  # Executor CPU Time (JVM task thread)
    gc_ms: int
    shuffle_read_bytes: int
    shuffle_write_bytes: int
    spill_bytes: int  # Disk Bytes Spilled
    output_bytes: int


def read_events(path: str):
    with open(path) as f:
        for line in f:
            line = line.strip()
            if line:
                yield json.loads(line)


def tasks_by_group(events) -> list[Task]:
    """Successful tasks of every job that ran under a job group."""
    stage_group: dict[int, str] = {}
    out = []
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if group is not None:
                for sid in ev.get("Stage IDs", []):
                    stage_group[sid] = group
        elif kind == "SparkListenerTaskEnd":
            if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                continue
            group = stage_group.get(ev["Stage ID"])
            if group is None:
                continue
            info = ev["Task Info"]
            m = ev.get("Task Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            om = m.get("Output Metrics") or {}
            out.append(
                Task(
                    group=group,
                    stage=ev["Stage ID"],
                    wall_ms=info["Finish Time"] - info["Launch Time"],
                    run_ms=m.get("Executor Run Time", 0),
                    cpu_ns=m.get("Executor CPU Time", 0),
                    gc_ms=m.get("JVM GC Time", 0),
                    shuffle_read_bytes=sr.get("Remote Bytes Read", 0)
                    + sr.get("Local Bytes Read", 0),
                    shuffle_write_bytes=sw.get("Shuffle Bytes Written", 0),
                    spill_bytes=m.get("Disk Bytes Spilled", 0),
                    output_bytes=om.get("Bytes Written", 0),
                )
            )
    return out


def summarize(tasks: list[Task], n_groups: int) -> dict[str, float]:
    """Per-group means of the summed task metrics, plus task-duration
    percentiles over all tasks.  ``n_groups`` is the number of timed
    passes the tasks came from."""
    n = max(n_groups, 1)
    walls = sorted(t.wall_ms for t in tasks) or [0]
    return {
        "spark.executor_run_s": sum(t.run_ms for t in tasks) / 1e3 / n,
        "spark.executor_cpu_s": sum(t.cpu_ns for t in tasks) / 1e9 / n,
        "spark.gc_s": sum(t.gc_ms for t in tasks) / 1e3 / n,
        "spark.task_p50_ms": float(statistics.median(walls)),
        "spark.task_max_ms": float(walls[-1]),
        "spark.tasks": len(tasks) / n,
        "spark.shuffle_read_mb": sum(t.shuffle_read_bytes for t in tasks) / MB / n,
        "spark.shuffle_write_mb": sum(t.shuffle_write_bytes for t in tasks) / MB / n,
        "spark.spill_mb": sum(t.spill_bytes for t in tasks) / MB / n,
        "spark.output_mb": sum(t.output_bytes for t in tasks) / MB / n,
    }
