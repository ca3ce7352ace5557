"""eventlog: job-group attribution and per-pass summaries."""

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import eventlog  # noqa: E402


def _job(job_id, stages, group=None):
    props = {"spark.jobGroup.id": group} if group else {}
    return {"Event": "SparkListenerJobStart", "Job ID": job_id, "Stage IDs": stages,
            "Properties": props}


def _task(stage, launch, finish, run_ms, reason="Success", **metrics):
    m = {
        "Executor Run Time": run_ms,
        "Executor CPU Time": run_ms * 1_000_000 // 2,
        "JVM GC Time": metrics.get("gc", 0),
        "Disk Bytes Spilled": metrics.get("spill", 0),
        "Shuffle Read Metrics": {"Remote Bytes Read": 0,
                                 "Local Bytes Read": metrics.get("sread", 0)},
        "Shuffle Write Metrics": {"Shuffle Bytes Written": metrics.get("swrite", 0)},
        "Output Metrics": {"Bytes Written": metrics.get("out", 0)},
    }
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task End Reason": {"Reason": reason},
            "Task Info": {"Launch Time": launch, "Finish Time": finish},
            "Task Metrics": m}


def _write(tmp_path, events):
    path = tmp_path / "app-1"
    path.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    return str(path)


def test_tasks_are_charged_to_their_job_group(tmp_path):
    path = _write(tmp_path, [
        {"Event": "SparkListenerApplicationStart"},
        _job(0, [0, 1], "traced-0"),
        _task(0, 1000, 1400, 350, sread=0, swrite=2_000_000),
        _task(1, 1400, 1500, 90, sread=2_000_000, gc=10),
        _task(1, 1400, 1600, 90, reason="TaskKilled"),  # not a success
        _job(1, [2]),  # no group: a check outside the timed pass
        _task(2, 2000, 2100, 100),
        _job(2, [3], "traced-1"),
        _task(3, 3000, 3900, 800, out=5_000_000, spill=1_000_000),
    ])
    tasks = eventlog.tasks_by_group(eventlog.read_events(path))
    assert [(t.group, t.stage) for t in tasks] == [
        ("traced-0", 0), ("traced-0", 1), ("traced-1", 3)]

    s = eventlog.summarize(tasks, n_groups=2)
    assert s["spark.executor_run_s"] == (350 + 90 + 800) / 1e3 / 2
    assert s["spark.executor_cpu_s"] == (350 + 90 + 800) / 2 / 1e3 / 2
    assert s["spark.gc_s"] == 0.01 / 2
    assert s["spark.task_p50_ms"] == 400.0
    assert s["spark.task_max_ms"] == 900.0
    assert s["spark.tasks"] == 1.5
    assert s["spark.shuffle_read_mb"] == 1.0
    assert s["spark.shuffle_write_mb"] == 1.0
    assert s["spark.spill_mb"] == 0.5
    assert s["spark.output_mb"] == 2.5


def test_summary_of_no_tasks_is_zero():
    s = eventlog.summarize([], n_groups=0)
    assert s["spark.executor_run_s"] == 0 and s["spark.task_max_ms"] == 0.0
