"""Fold a Spark event log into per-job, per-stage and per-tag rows.

Standard library only. Reads the rolling layout Spark 4.1 writes with
``spark.eventLog.rolling.enabled=true`` and ``spark.eventLog.compress=false``:
``<dir>/eventlog_v2_<app>/events_<n>_<app>`` JSON-lines files, read in
``<n>`` order.

A job's tag is its ``spark.job.description`` from the job-start
``Properties``. Scan bytes come from the SQL metric "size of files read"
(the scan node's driver-side metric), never from task ``input.bytesRead``,
which under-reports parquet scans by orders of magnitude.
"""

from __future__ import annotations

import glob
import json
import os
import re
from dataclasses import dataclass, field
import statistics

SCAN_BYTES_METRIC = "size of files read"


@dataclass
class Stage:
    stage_id: int
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    output_bytes: int = 0
    task_s: list[float] = field(default_factory=list)

    @property
    def is_reduce(self) -> bool:
        """A stage that reads a shuffle (the LWW aggregate + write side);
        every other stage is a scan/map stage."""
        return self.shuffle_read_bytes > 0

    @property
    def skew(self) -> float | None:
        """Max ÷ median task time, for stages with at least two tasks."""
        if len(self.task_s) < 2:
            return None
        mid = statistics.median(self.task_s)
        return max(self.task_s) / mid if mid > 0 else None


@dataclass
class Job:
    job_id: int
    tag: str | None
    start_s: float
    end_s: float | None = None
    stage_ids: list[int] = field(default_factory=list)
    # the job's SQL execution and its root: a streaming micro-batch plans
    # the file scan in the root execution, and its foreachBatch actions
    # run as child executions over the scanned rows
    execution_ids: tuple[int, ...] = ()


@dataclass
class Fold:
    jobs: dict[int, Job]
    stages: dict[int, Stage]
    scan_bytes_by_execution: dict[int, int]

    def jobs_tagged(self, tags: set[str]) -> list[Job]:
        return [j for j in self.jobs.values() if j.tag in tags]

    def totals(self, jobs: list[Job]) -> dict[str, float]:
        """Sum the stage and SQL metrics of ``jobs`` into one row."""
        stage_ids = {s for j in jobs for s in j.stage_ids if s in self.stages}
        stages = [self.stages[s] for s in sorted(stage_ids)]
        scans = [s for s in stages if not s.is_reduce]
        reduces = [s for s in stages if s.is_reduce]
        skews = [s.skew for s in stages if s.skew is not None]
        executions = {e for j in jobs for e in j.execution_ids}
        return {
            "stages": len(stages),
            "tasks": sum(s.tasks for s in stages),
            "scan_run_s": sum(s.run_s for s in scans),
            "scan_cpu_s": sum(s.cpu_s for s in scans),
            "reduce_run_s": sum(s.run_s for s in reduces),
            "run_s": sum(s.run_s for s in stages),
            "cpu_s": sum(s.cpu_s for s in stages),
            "gc_s": sum(s.gc_s for s in stages),
            "exchange_write_bytes": sum(s.shuffle_write_bytes for s in stages),
            "exchange_read_bytes": sum(s.shuffle_read_bytes for s in stages),
            "spill_bytes": sum(s.spill_bytes for s in stages),
            "output_bytes": sum(s.output_bytes for s in stages),
            "scan_bytes": sum(
                self.scan_bytes_by_execution.get(e, 0) for e in executions
            ),
            "task_skew": max(skews) if skews else 0.0,
        }


def median(values) -> float:
    """Median of ``values``; 0 when there are none."""
    values = list(values)
    return statistics.median(values) if values else 0.0


def union_s(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``(start, end)`` intervals."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def job_union_s(jobs: list[Job], lo: float = float("-inf"), hi: float = float("inf")) -> float:
    """Seconds during which at least one of ``jobs`` ran, clipped to
    ``[lo, hi]``."""
    return union_s(
        [(max(j.start_s, lo), min(j.end_s or j.start_s, hi)) for j in jobs]
    )


def event_files(log_dir: str) -> list[str]:
    """The rolling event files under ``log_dir``, in write order."""
    def index(path: str) -> int:
        m = re.match(r"events_(\d+)_", os.path.basename(path))
        return int(m.group(1)) if m else 0

    return sorted(glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*")), key=index)


def _scan_metric_ids(plan: dict, out: set[int]) -> None:
    for m in plan.get("metrics", []):
        if m.get("name") == SCAN_BYTES_METRIC:
            out.add(int(m["accumulatorId"]))
    for child in plan.get("children", []):
        _scan_metric_ids(child, out)


def fold(log_dir: str) -> Fold:
    jobs: dict[int, Job] = {}
    stages: dict[int, Stage] = {}
    scan_ids: set[int] = set()
    accum: dict[int, dict[int, int]] = {}  # execution id -> accumulator -> value
    for path in event_files(log_dir):
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                kind = e.get("Event", "")
                if kind == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    ids = {
                        int(props[k])
                        for k in ("spark.sql.execution.id", "spark.sql.execution.root.id")
                        if props.get(k) is not None
                    }
                    job = Job(
                        job_id=e["Job ID"],
                        tag=props.get("spark.job.description"),
                        start_s=e["Submission Time"] / 1000.0,
                        stage_ids=list(e.get("Stage IDs", [])),
                        execution_ids=tuple(sorted(ids)),
                    )
                    jobs[job.job_id] = job
                elif kind == "SparkListenerJobEnd":
                    job = jobs.get(e["Job ID"])
                    if job is not None:
                        job.end_s = e["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    _add_task(stages, e)
                elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                    "SparkListenerSQLAdaptiveExecutionUpdate"
                ):
                    _scan_metric_ids(e.get("sparkPlanInfo") or {}, scan_ids)
                elif kind.endswith("SparkListenerDriverAccumUpdates"):
                    per = accum.setdefault(int(e["executionId"]), {})
                    for acc_id, value in e.get("accumUpdates", []):
                        per[int(acc_id)] = int(value)
    scan_bytes = {
        ex: sum(v for a, v in per.items() if a in scan_ids)
        for ex, per in accum.items()
    }
    return Fold(jobs, stages, scan_bytes)


def _add_task(stages: dict[int, Stage], e: dict) -> None:
    sid = e["Stage ID"]
    st = stages.setdefault(sid, Stage(sid))
    info = e.get("Task Info") or {}
    m = e.get("Task Metrics") or {}
    st.tasks += 1
    st.task_s.append((info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1000.0)
    st.run_s += m.get("Executor Run Time", 0) / 1000.0
    st.cpu_s += m.get("Executor CPU Time", 0) / 1e9
    st.gc_s += m.get("JVM GC Time", 0) / 1000.0
    rd = m.get("Shuffle Read Metrics") or {}
    st.shuffle_read_bytes += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
    wr = m.get("Shuffle Write Metrics") or {}
    st.shuffle_write_bytes += wr.get("Shuffle Bytes Written", 0)
    st.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    st.output_bytes += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
