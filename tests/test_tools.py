"""The measurement scripts: every one imports, big_replay reads one phase
row per data-writing merge of a real replay from its snapshots, and
perfbench's tracer finds every engine attribute it wraps."""

from __future__ import annotations

import importlib.util
import os

import pytest
from pyspark.sql import functions as F

from caterpillar_spark.cdc import replay_chunks
from caterpillar_spark.generator import GeneratorSpec, write_changelog_chunks
from caterpillar_spark.sinks.snapshot_table import SnapshotTable
from caterpillar_spark.streaming.apply import TRANSCRIPT_SCHEMA
from tools import big_replay

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCRIPTS = sorted(
    os.path.relpath(os.path.join(d, f), ROOT)
    for d in (os.path.join(ROOT, "tools"), os.path.join(ROOT, "jobs"))
    for f in os.listdir(d)
    if f.endswith(".py")
) + ["bench.py"]


@pytest.mark.parametrize("path", SCRIPTS)
def test_script_imports(path):
    """Importing a script (not running its main()) resolves every module
    it names, so a dangling import of a deleted module fails here."""
    name = "_import_check_" + path.replace("/", "_").removesuffix(".py")
    spec = importlib.util.spec_from_file_location(name, os.path.join(ROOT, path))
    spec.loader.exec_module(importlib.util.module_from_spec(spec))


def test_big_replay_captures_one_phase_per_merge(spark, tmp_path):
    """big_replay reads one phase row per data-writing merge from the
    snapshots: an empty batch, a compaction and a skipped re-replay add
    none."""
    spec = GeneratorSpec(n_events=4_000, n_convs=40, turns_per_conv=10, seed=61)
    chunks = write_changelog_chunks(spark, spec, str(tmp_path / "log"), n_chunks=2)
    tbl = SnapshotTable(spark, str(tmp_path / "t"), n_buckets=4).create(
        TRANSCRIPT_SCHEMA
    )
    results = replay_chunks(spark, chunks, tbl)
    assert [r.snapshot_version for r in results] == [1, 2]
    phases = big_replay.merge_phases(tbl.log)
    assert [p["batch"] for p in phases] == [0, 1]
    for p in phases:
        assert set(p) == {
            "batch", "plan_sec", "stats_pass_sec", "write_sec", "stats_sec",
            "manifest_sec",
        }
        assert min(p.values()) >= 0
    # every data batch runs one distributed stats pass, timed on its own
    assert sum(p["stats_pass_sec"] for p in phases) > 0

    empty = spark.read.parquet(chunks[0]).filter(F.lit(False))
    assert tbl.merge(empty, 2, (10**9, 10**9))[0] == 3
    tbl.compact()
    replay_chunks(spark, chunks, tbl)
    assert tbl.current_version() == 4
    assert big_replay.merge_phases(tbl.log) == phases


def test_perfbench_tracer_installs(spark, monkeypatch):
    """perfbench's tracer wraps engine attributes by name (``cdc``,
    ``streaming.apply`` and ``SnapshotTable`` methods). Renaming or
    deleting one of them fails here instead of in every benchmark run;
    leaving the block restores every original."""
    from caterpillar_spark import cdc

    monkeypatch.syspath_prepend(os.path.join(ROOT, "perfbench"))
    tracing = importlib.import_module("tracing")
    before = (dict(vars(SnapshotTable)), dict(vars(cdc)))
    with tracing.Tracer(spark).installed():
        assert SnapshotTable.__dict__["merge"] is not before[0]["merge"]
    assert (dict(vars(SnapshotTable)), dict(vars(cdc))) == before
