"""Fold a Spark event log into per-job-group task metrics (stdlib only).

The log must be uncompressed and non-rolling (``spark.eventLog.compress``
and ``spark.eventLog.rolling.enabled`` both false): one JSON event per line.
Each job is keyed by the ``spark.jobGroup.id`` property it was submitted
with; each stage belongs to the first job that lists it (later jobs that
list the same stage skip it); each task belongs to its stage. File-scan
counts come from the driver-side SQL metrics of each execution, keyed by
the job group of its first job.
"""

from __future__ import annotations

import json
from collections import defaultdict
from statistics import median

MIB = 1024.0 * 1024.0
_FILES_READ = "number of files read"
_FILES_SIZE = "size of files read"
_DRIVER_ACCUM = "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates"
_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_SQL_ADAPTIVE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"


class GroupStats:
    """Task-metric totals of the jobs that ran under one job group."""

    def __init__(self) -> None:
        self.jobs = 0
        self.stages: set[int] = set()
        self.tasks = 0
        self.executor_run_s = 0.0
        self.executor_cpu_s = 0.0
        self.gc_s = 0.0
        self.shuffle_write_bytes = 0
        self.spill_bytes = 0
        self.files_read = 0
        self.files_bytes = 0
        self.task_ms: dict[int, list[int]] = defaultdict(list)

    def task_skew(self) -> float:
        """Largest max ÷ median task run time over stages with ≥ 2 tasks
        (1.0 when no stage has two tasks)."""
        ratios = [
            max(ts) / max(median(ts), 1.0) for ts in self.task_ms.values() if len(ts) >= 2
        ]
        return max(ratios, default=1.0)

    def add(self, other: "GroupStats") -> None:
        self.jobs += other.jobs
        self.stages |= other.stages
        self.tasks += other.tasks
        self.executor_run_s += other.executor_run_s
        self.executor_cpu_s += other.executor_cpu_s
        self.gc_s += other.gc_s
        self.shuffle_write_bytes += other.shuffle_write_bytes
        self.spill_bytes += other.spill_bytes
        self.files_read += other.files_read
        self.files_bytes += other.files_bytes
        for stage, ts in other.task_ms.items():
            self.task_ms[stage].extend(ts)


def _plan_metric_ids(plan: dict, name: str, out: set[int]) -> None:
    for m in plan.get("metrics", []):
        if m.get("name") == name:
            out.add(int(m["accumulatorId"]))
    for child in plan.get("children", []):
        _plan_metric_ids(child, name, out)


def fold(path: str) -> dict[str | None, GroupStats]:
    """Per job group (None for jobs submitted without one) task totals."""
    stage_job: dict[int, int] = {}
    job_group: dict[int, str | None] = {}
    exec_group: dict[int, str | None] = {}
    files_ids: set[int] = set()
    size_ids: set[int] = set()
    groups: dict[str | None, GroupStats] = defaultdict(GroupStats)
    tasks: list[dict] = []
    accums: list[tuple[int, list]] = []
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                group = props.get("spark.jobGroup.id")
                job = ev["Job ID"]
                job_group[job] = group
                groups[group].jobs += 1
                for stage in ev.get("Stage IDs", []):
                    stage_job.setdefault(stage, job)
                exec_id = props.get("spark.sql.execution.id")
                if exec_id is not None:
                    exec_group.setdefault(int(exec_id), group)
            elif kind == "SparkListenerTaskEnd":
                tasks.append(ev)
            elif kind in (_SQL_START, _SQL_ADAPTIVE):
                plan = ev.get("sparkPlanInfo") or {}
                _plan_metric_ids(plan, _FILES_READ, files_ids)
                _plan_metric_ids(plan, _FILES_SIZE, size_ids)
            elif kind == _DRIVER_ACCUM:
                accums.append((int(ev["executionId"]), ev.get("accumUpdates") or []))
    for ev in tasks:
        stage = ev["Stage ID"]
        group = job_group.get(stage_job.get(stage, -1))
        g = groups[group]
        m = ev.get("Task Metrics") or {}
        g.tasks += 1
        g.stages.add(stage)
        run_ms = int(m.get("Executor Run Time", 0))
        g.task_ms[stage].append(run_ms)
        g.executor_run_s += run_ms / 1000.0
        g.executor_cpu_s += int(m.get("Executor CPU Time", 0)) / 1e9
        g.gc_s += int(m.get("JVM GC Time", 0)) / 1000.0
        g.shuffle_write_bytes += int(
            (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        )
        g.spill_bytes += int(m.get("Disk Bytes Spilled", 0))
    for exec_id, updates in accums:
        group = exec_group.get(exec_id)
        for acc_id, value in updates:
            if int(acc_id) in files_ids:
                groups[group].files_read += int(value)
            elif int(acc_id) in size_ids:
                groups[group].files_bytes += int(value)
    return dict(groups)
