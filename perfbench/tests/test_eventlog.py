"""The event-log parser, pinned on a small recorded log (two labelled jobs:
a shuffle feeding a mapInPandas stage, then a count; the first job's
stages carry executor-metric peaks) and on hand-made edge cases."""

import json
import os

import pytest

from perfbench import eventlog

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "eventlog-small.jsonl")


@pytest.fixture(scope="module")
def stages():
    return eventlog.stage_table(eventlog.read_events(DATA))


def test_stage_table(stages):
    rows = [
        (s.stage_id, s.label, s.tasks, s.shuffle_write_bytes, s.gc_ms, s.run_ms, s.cpu_ns)
        for s in stages
    ]
    assert rows == [
        (0, "commit", 2, 16684, 50, 434, 168637483),
        (1, "commit", 3, 0, 31, 4295, 483759682),
        (2, "other", 2, 118, 0, 99, 33758828),
        (3, "other", 1, 0, 9, 30, 17254963),
    ]
    assert stages[1].task_s == [2.09, 2.088, 0.244]
    assert [s.peak_heap_bytes for s in stages] == [412345678, 523456789, 0, 0]


def test_summary_of_one_label(stages):
    got = eventlog.summarize([s for s in stages if s.label == "commit"])
    assert got == pytest.approx(
        {
            "stage.tasks": 5,
            "stage.task_s_max": 2.09,
            "stage.task_s_median": 0.334,
            "stage.shuffle_write_mb": 16684 / 2**20,
            "stage.spill_mb": 0.0,
            "stage.gc_s": 0.081,
            # 4.729 s of task run time, 0.652 s of it on JVM CPU
            "stage.run_minus_cpu_s": 4.729 - 0.652397165,
            "jvm.peak_heap_mb": 523456789 / 2**20,
        }
    )


def test_summary_per_iteration(stages):
    one = eventlog.summarize(stages)
    two = eventlog.summarize(stages, per=2)
    assert two["stage.tasks"] == one["stage.tasks"] / 2
    assert two["stage.task_s_max"] == one["stage.task_s_max"]
    assert two["jvm.peak_heap_mb"] == one["jvm.peak_heap_mb"]


def _task(stage, launch, finish, failed=False, attempt=0):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Stage Attempt ID": attempt,
        "Task Info": {"Launch Time": launch, "Finish Time": finish, "Failed": failed},
        "Task Metrics": {"Executor Run Time": finish - launch, "Disk Bytes Spilled": 5},
    }


def _stage(kind, stage, attempt=0, props=None):
    ev = {"Event": kind, "Stage Info": {"Stage ID": stage, "Stage Attempt ID": attempt}}
    if props is not None:
        ev["Properties"] = props
    return ev


def test_failed_tasks_retries_and_skipped_stages():
    events = [
        {"Event": "SparkListenerJobStart", "Stage IDs": [7, 8], "Properties": {"spark.job.description": "q"}},
        _stage("SparkListenerStageSubmitted", 7),
        _task(7, 0, 1000),
        _task(7, 0, 500, failed=True),
        _stage("SparkListenerStageCompleted", 7),
        _stage("SparkListenerStageSubmitted", 7, attempt=1),
        _task(7, 0, 2000, attempt=1),
        _stage("SparkListenerStageCompleted", 7, attempt=1),
        # submitted but never ran a task (skipped): not in the table
        _stage("SparkListenerStageSubmitted", 8),
        _stage("SparkListenerStageCompleted", 8),
    ]
    got = eventlog.stage_table(events)
    assert [(s.stage_id, s.attempt, s.label, s.task_s) for s in got] == [
        (7, 0, "q", [1.0]),
        (7, 1, "q", [2.0]),
    ]
    assert got[0].spill_bytes == 5


def test_rolling_log_directory(tmp_path):
    app = tmp_path / "eventlog_v2_local-1"
    app.mkdir()
    lines = open(DATA).read().splitlines()
    # parts are read by index, not by name order (10 sorts before 2)
    (app / "events_2_local-1").write_text("\n".join(lines[:9]) + "\n")
    (app / "events_10_local-1").write_text("\n".join(lines[9:]) + "\n")
    (app / "appstatus_local-1").write_text("")
    single = tmp_path / "local-2"
    single.write_text(json.dumps({"Event": "SparkListenerLogStart"}) + "\n")
    stages = eventlog.load_dir(str(tmp_path))
    assert [s.stage_id for s in stages] == [0, 1, 2, 3]
