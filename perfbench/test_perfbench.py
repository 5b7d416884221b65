"""Tests of the benchmark's own parts.

    python3 -m pytest perfbench -q -p no:cacheprovider

The fold tests need only the standard library; the input test starts a
small ``local[2]`` Spark session.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import eventlog  # noqa: E402
import run  # noqa: E402


def _task(stage, launch, finish, run_ms, cpu_ns, read=0, write=0, spill=0, gc=0):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Info": {"Launch Time": launch, "Finish Time": finish},
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "Executor CPU Time": cpu_ns,
            "JVM GC Time": gc,
            "Memory Bytes Spilled": spill,
            "Disk Bytes Spilled": 0,
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": read},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": write},
            "Output Metrics": {"Bytes Written": 0},
            "Input Metrics": {"Bytes Read": 7},
        },
    }


def _write_log(tmp_path, events_by_file):
    app = tmp_path / "eventlog_v2_local-1"
    app.mkdir()
    (app / "appstatus_local-1").write_text("")
    for n, events in events_by_file.items():
        with open(app / f"events_{n}_local-1", "w") as f:
            for e in events:
                f.write(json.dumps(e) + "\n")


def test_fold_groups_jobs_stages_and_scan_bytes(tmp_path):
    plan = {
        "nodeName": "Exchange",
        "metrics": [{"name": "shuffle bytes written", "accumulatorId": 9}],
        "children": [
            {"nodeName": "Scan parquet", "metrics": [{"name": "size of files read", "accumulatorId": 5}], "children": []}
        ],
    }
    root_plan = {"nodeName": "Scan parquet", "metrics": [{"name": "size of files read", "accumulatorId": 4}]}
    first = [
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart", "executionId": 2, "sparkPlanInfo": root_plan},
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates", "executionId": 2, "accumUpdates": [[4, 1_000]]},
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart", "executionId": 3, "sparkPlanInfo": plan},
        {
            "Event": "SparkListenerJobStart",
            "Job ID": 0,
            "Submission Time": 10_000,
            "Stage IDs": [0, 1],
            "Properties": {
                "spark.job.description": "pb7",
                "spark.sql.execution.id": "3",
                "spark.sql.execution.root.id": "2",
            },
        },
        _task(0, 10_000, 10_400, 400, 300_000_000, write=1000),
        _task(0, 10_000, 10_100, 100, 50_000_000, write=500, gc=20),
    ]
    # the second rolling file: its events are read after the first file's
    second = [
        _task(1, 10_500, 10_900, 350, 200_000_000, read=1500, spill=64),
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates", "executionId": 3, "accumUpdates": [[5, 86_000_000], [9, 1]]},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 11_000},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 12_000, "Stage IDs": [], "Properties": {}},
    ]
    _write_log(tmp_path, {2: second, 1: first})

    f = eventlog.fold(str(tmp_path))
    assert [j.tag for j in f.jobs_tagged({"pb7"})] == ["pb7"]
    job = f.jobs[0]
    assert (job.start_s, job.end_s, job.execution_ids) == (10.0, 11.0, (2, 3))
    assert f.jobs[1].tag is None and f.jobs[1].end_s is None
    t = f.totals([job])
    assert t["stages"] == 2 and t["tasks"] == 3
    assert t["scan_run_s"] == pytest.approx(0.5)
    assert t["scan_cpu_s"] == pytest.approx(0.35)
    assert t["reduce_run_s"] == pytest.approx(0.35)
    assert t["exchange_write_bytes"] == 1500 and t["exchange_read_bytes"] == 1500
    assert t["spill_bytes"] == 64 and t["gc_s"] == pytest.approx(0.02)
    # scan bytes come from the SQL metric of the job's execution and its
    # root (a micro-batch's scan), not from task input.bytesRead
    assert t["scan_bytes"] == 86_000_000 + 1_000
    # skew is max / median task time of a stage with >= 2 tasks
    assert t["task_skew"] == pytest.approx(0.4 / 0.25)


def test_job_union_merges_overlaps_and_clips():
    jobs = [
        eventlog.Job(0, "a", 1.0, 3.0),
        eventlog.Job(1, "a", 2.0, 4.0),
        eventlog.Job(2, "a", 6.0, 7.0),
    ]
    assert eventlog.job_union_s(jobs) == pytest.approx(4.0)
    assert eventlog.job_union_s(jobs, 2.5, 6.5) == pytest.approx(2.0)


def test_metric_names_match_benchmark_json():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    from workloads import WORKLOADS

    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS) == list(run.WORKLOAD_NAMES)


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    # base_conf pins the initial heap to DRIVER_MEM, so the maximum must match
    os.environ["SPARK_DRIVER_MEM"] = run.DRIVER_MEM
    s = run.start_spark("perfbench-test", 2, run.base_conf(str(tmp_path_factory.mktemp("run"))))
    yield s
    run.stop_spark(s)


def test_seed_fixes_the_inputs(spark, tmp_path):
    from workloads import StreamUpsert, lookup_keys

    def inputs(seed, name):
        log = StreamUpsert(spark, str(tmp_path), seed).generate(str(tmp_path / name))
        return log.digest, lookup_keys(log.spec, seed, 16)

    a, keys_a = inputs(7, "a")
    b, keys_b = inputs(7, "b")
    c, keys_c = inputs(8, "c")
    assert a == b and keys_a == keys_b
    assert a != c and keys_a != keys_c
