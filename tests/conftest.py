from __future__ import annotations

import contextlib
import os
import sys
import time
import uuid
from dataclasses import dataclass

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from caterpillar_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("caterpillar-tests", cores=8, shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@dataclass
class SparkJob:
    id: int
    description: str
    stage_tasks: dict[int, int]  # stage id -> number of tasks


@pytest.fixture
def spark_jobs(spark):
    """``with spark_jobs("name") as jobs: ...`` — after the block, ``jobs``
    lists every Spark job the block launched (a :class:`SparkJob` each)."""
    sc = spark.sparkContext

    @contextlib.contextmanager
    def run(name: str):
        group, jobs = f"{name}-{uuid.uuid4().hex[:8]}", []
        try:
            sc.setJobGroup(group, name)
            yield jobs
            # job events reach the status store in order: once this probe
            # job shows up, every job the block launched before it has too
            sc.setJobGroup(f"{group}-probe", "status store probe")
            spark.range(3).count()
            deadline = time.time() + 60
            while not sc.statusTracker().getJobIdsForGroup(f"{group}-probe"):
                assert time.time() < deadline, "probe job never reached the status store"
                time.sleep(0.05)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        tracker, store = sc.statusTracker(), sc._jsc.sc().statusStore()
        for j in sorted(tracker.getJobIdsForGroup(group)):
            desc = store.job(j).description()  # a Scala Option
            stages = {s: tracker.getStageInfo(s) for s in tracker.getJobInfo(j).stageIds}
            jobs.append(
                SparkJob(
                    j,
                    desc.get() if desc.isDefined() else "",
                    {s: st.numTasks for s, st in stages.items() if st is not None},
                )
            )

    return run
