"""End-to-end tests for the spark-submit entry points (jobs/replay_job.py,
jobs/maintain_job.py): run their ``main()`` against a tmp table and assert
ledger + maintenance effects — the only .py surface pytest didn't already
drive (VERDICT r5 next-round #7)."""

from __future__ import annotations

import importlib.util
import json
import os
import sys


def _load(name: str):
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        name, os.path.join(root, "jobs", f"{name}.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_replay_job_batch_then_maintain(spark, tmp_path, monkeypatch, capsys):
    from caterpillar_spark.generator import (
        GeneratorSpec, change_events, expected_final_state, write_changelog_chunks,
    )
    from caterpillar_spark.sinks.snapshot_table import SnapshotTable

    spec = GeneratorSpec(n_events=8_000, n_convs=60, turns_per_conv=8, seed=11)
    log_dir = str(tmp_path / "log")
    table_dir = str(tmp_path / "table")
    write_changelog_chunks(spark, spec, log_dir, n_chunks=3)

    replay_job = _load("replay_job")
    monkeypatch.setattr(
        sys, "argv",
        ["replay_job.py", "--log-dir", log_dir, "--table", table_dir,
         "--mode", "batch", "--create", "--n-buckets", "8"],
    )
    replay_job.main()
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert len(out) == 3
    assert all(b["version"] >= 0 and b["rows"] > 0 for b in out)

    # re-run: the ledger must turn every chunk into a no-op
    replay_job.main()
    out2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert all(b["version"] == -1 and b["rows"] == 0 for b in out2)

    # state matches the independent reduction
    tbl = SnapshotTable(spark, table_dir)
    exp = expected_final_state(change_events(spark, spec)).drop("_lsn")
    got = tbl.read().select(*exp.columns)
    assert got.exceptAll(exp).count() == 0 and exp.exceptAll(got).count() == 0

    # maintenance entry point: full compact + snapshot expiry
    maintain_job = _load("maintain_job")
    v0 = tbl.current_version()
    monkeypatch.setattr(
        sys, "argv",
        ["maintain_job.py", "--table", table_dir, "--full-compact",
         "--drop-tombstones", "--expire-keep-last", "1"],
    )
    maintain_job.main()
    m = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert m["version_before"] == v0 and m["version_after"] > v0 and m["compacted"]
    assert m["operation"] == "compact" and m["driver"] is False

    # compaction must preserve state
    tbl2 = SnapshotTable(spark, table_dir)
    got2 = tbl2.read().select(*exp.columns)
    assert got2.exceptAll(exp).count() == 0 and exp.exceptAll(got2).count() == 0


def test_maintain_job_incremental_noop(spark, tmp_path, monkeypatch, capsys):
    """Incremental maintain on a healthy (just-created, delta-free) table
    must not rewrite anything."""
    from pyspark.sql import types as T

    from caterpillar_spark.sinks.snapshot_table import SnapshotTable

    table_dir = str(tmp_path / "table")
    schema = T.StructType([
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
    ])
    SnapshotTable(spark, table_dir, n_buckets=4).create(schema)

    maintain_job = _load("maintain_job")
    monkeypatch.setattr(
        sys, "argv", ["maintain_job.py", "--table", table_dir]
    )
    maintain_job.main()
    m = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert m["compacted"] is False and m["version_after"] == m["version_before"]
    assert m["operation"] is None and m["driver"] is None


def test_maintain_job_reports_a_driver_fold(spark, tmp_path, monkeypatch, capsys):
    """Four small delta batches: the incremental maintain folds them on
    the driver, and the JSON line says so."""
    from pyspark.sql import types as T

    from caterpillar_spark.sinks import snapshot_table
    from caterpillar_spark.sinks.snapshot_table import SnapshotTable

    table_dir = str(tmp_path / "table")
    tbl = SnapshotTable(spark, table_dir, n_buckets=4).create(T.StructType([
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("text", T.StringType()),
    ]))
    events = "lsn long, op string, conv_id string, turn_idx int, text string"
    tbl.merge(spark.createDataFrame([(i, "I", f"c{i}", 0, "a") for i in range(40)], events), 0)
    monkeypatch.setattr(snapshot_table, "_DELTA_THRESHOLD", -1)  # delta
    for i in range(4):
        tbl.merge(spark.createDataFrame([(100 + i, "U", "c1", 0, f"v{i}")], events), 1 + i)

    maintain_job = _load("maintain_job")
    monkeypatch.setattr(sys, "argv", ["maintain_job.py", "--table", table_dir])
    maintain_job.main()
    m = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert m["operation"] == "fold" and m["driver"] is True
