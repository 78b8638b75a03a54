"""Spark event log -> stage table.

Reads the JSON-lines event log Spark writes with ``spark.eventLog.enabled``
and builds one row per completed stage attempt: the job description it
ran under, its task count, task durations and the task-metric totals the
benchmark reports (shuffle write, spill, GC, run time minus JVM CPU time,
which is the time a task spent waiting on its Python workers) and the
driver JVM's peak used heap while the stage ran (from the
``SparkListenerStageExecutorMetrics`` events that
``spark.eventLog.logStageExecutorMetrics`` adds).
"""

from __future__ import annotations

import json
import os
import statistics
from dataclasses import dataclass, field


@dataclass
class Stage:
    stage_id: int
    attempt: int
    label: str | None
    name: str = ""
    task_s: list[float] = field(default_factory=list)
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    gc_ms: int = 0
    run_ms: int = 0
    cpu_ns: int = 0
    peak_heap_bytes: int = 0

    @property
    def tasks(self) -> int:
        return len(self.task_s)

    @property
    def run_minus_cpu_s(self) -> float:
        return self.run_ms / 1e3 - self.cpu_ns / 1e9


def read_events(path: str):
    with open(path) as f:
        for line in f:
            line = line.strip()
            if line:
                yield json.loads(line)


def stage_table(events) -> list[Stage]:
    """Completed stage attempts in completion order.  A stage's label is
    the ``spark.job.description`` of the job that submitted it; failed
    tasks are left out."""
    labels: dict[int, str | None] = {}
    open_stages: dict[tuple[int, int], Stage] = {}
    done: list[Stage] = []
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            label = (ev.get("Properties") or {}).get("spark.job.description")
            for sid in ev.get("Stage IDs", ()):
                labels.setdefault(sid, label)
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            key = (info["Stage ID"], info.get("Stage Attempt ID", 0))
            label = (ev.get("Properties") or {}).get("spark.job.description")
            open_stages[key] = Stage(
                key[0], key[1], label or labels.get(key[0]), info.get("Stage Name", "")
            )
        elif kind == "SparkListenerTaskEnd":
            key = (ev["Stage ID"], ev.get("Stage Attempt ID", 0))
            st = open_stages.get(key)
            info = ev.get("Task Info") or {}
            if st is None or info.get("Failed"):
                continue
            st.task_s.append((info["Finish Time"] - info["Launch Time"]) / 1e3)
            m = ev.get("Task Metrics") or {}
            st.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            st.spill_bytes += m.get("Disk Bytes Spilled", 0)
            st.gc_ms += m.get("JVM GC Time", 0)
            st.run_ms += m.get("Executor Run Time", 0)
            st.cpu_ns += m.get("Executor CPU Time", 0)
        elif kind == "SparkListenerStageExecutorMetrics":
            st = open_stages.get((ev["Stage ID"], ev.get("Stage Attempt ID", 0)))
            heap = (ev.get("Executor Metrics") or {}).get("JVMHeapMemory", 0)
            if st is not None:
                st.peak_heap_bytes = max(st.peak_heap_bytes, heap)
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            key = (info["Stage ID"], info.get("Stage Attempt ID", 0))
            st = open_stages.pop(key, None)
            if st is not None and st.tasks:
                done.append(st)
    return done


def summarize(stages: list[Stage], per: float = 1.0) -> dict[str, float]:
    """The ``stage.*`` metrics over ``stages``; additive totals are
    divided by ``per`` (the number of iterations the stages cover)."""
    tasks = [t for s in stages for t in s.task_s]
    return {
        "stage.tasks": sum(s.tasks for s in stages) / per,
        "stage.task_s_max": max(tasks, default=0.0),
        "stage.task_s_median": statistics.median(tasks) if tasks else 0.0,
        "stage.shuffle_write_mb": sum(s.shuffle_write_bytes for s in stages) / 2**20 / per,
        "stage.spill_mb": sum(s.spill_bytes for s in stages) / 2**20 / per,
        "stage.gc_s": sum(s.gc_ms for s in stages) / 1e3 / per,
        "stage.run_minus_cpu_s": sum(s.run_minus_cpu_s for s in stages) / per,
        "jvm.peak_heap_mb": max((s.peak_heap_bytes for s in stages), default=0) / 2**20,
    }


def _log_files(path: str) -> list[str]:
    """Files of one application's log: a single file, or a rolling log
    directory (``eventlog_v2_*``) whose ``events_<n>_*`` parts are read
    in order."""
    if not os.path.isdir(path):
        return [path]
    parts = [n for n in os.listdir(path) if n.startswith("events_")]
    parts.sort(key=lambda n: int(n.split("_")[1]))
    return [os.path.join(path, n) for n in parts]


def load_dir(path: str) -> list[Stage]:
    """Stage table of every application log under ``path``."""
    out: list[Stage] = []
    for name in sorted(os.listdir(path)):
        files = _log_files(os.path.join(path, name))
        out.extend(stage_table(ev for f in files for ev in read_events(f)))
    return out
