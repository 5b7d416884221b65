"""Streaming ingest: availableNow replay, checkpoint resume, convergence
with the batch oracle, exactly-once under re-delivery."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import types as T

from caterpillar_spark.generator import (
    GeneratorSpec,
    change_events,
    expected_final_state,
    write_changelog_chunks,
)
from caterpillar_spark.sinks import snapshot_table
from caterpillar_spark.sinks.snapshot_table import SnapshotTable
from caterpillar_spark.streaming import apply_stream, stream_changelog

PAYLOAD = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("role", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("tool", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ]
)
SPEC = GeneratorSpec(n_events=6_000, n_convs=30, turns_per_conv=10, seed=23)


def _canon(df):
    return sorted(
        tuple(r)
        for r in df.select("conv_id", "turn_idx", "role", "text", "tool", "ts").collect()
    )


def _expected(spark):
    return sorted(
        tuple(r)
        for r in expected_final_state(change_events(spark, SPEC))
        .select("conv_id", "turn_idx", "role", "text", "tool", "ts")
        .collect()
    )


def test_stream_available_now_full_replay(spark, tmp_path):
    chunks_dir = str(tmp_path / "log")
    write_changelog_chunks(spark, SPEC, chunks_dir, n_chunks=6)
    tbl = SnapshotTable(spark, str(tmp_path / "t"), n_buckets=8).create(PAYLOAD)
    q = apply_stream(
        stream_changelog(spark, chunks_dir, max_files_per_trigger=2),
        tbl,
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination(300)
    assert _canon(tbl.read()) == _expected(spark)
    # multiple micro-batches happened (maxFilesPerTrigger=2 over 6 chunks)
    assert tbl.current_version() >= 3


def test_stream_delta_mode_with_maintenance(spark, tmp_path, monkeypatch):
    """Merge-on-read micro-batches + periodic incremental compaction:
    state converges to the batch oracle and the delta backlog is bounded
    by the maintenance loop."""
    chunks_dir = str(tmp_path / "log")
    write_changelog_chunks(spark, SPEC, chunks_dir, n_chunks=6)
    tbl = SnapshotTable(spark, str(tmp_path / "t"), n_buckets=8).create(PAYLOAD)
    monkeypatch.setattr(snapshot_table, "_DELTA_THRESHOLD", -1)  # delta
    q = apply_stream(
        stream_changelog(spark, chunks_dir, max_files_per_trigger=1),
        tbl,
        str(tmp_path / "ckpt"),
        maintain_every=2,
    )
    q.awaitTermination(300)
    assert _canon(tbl.read()) == _expected(spark)
    snap = tbl.snapshot()
    # deltas exist only for buckets the maintenance loop hasn't reached
    # since their last append; the backlog never exceeds the threshold
    assert all(len(fs) < 4 for fs in snap.deltas.values())
    tbl.compact()
    assert _canon(tbl.read()) == _expected(spark)


def test_stream_resume_from_checkpoint(spark, tmp_path):
    """Stop after the first tranche of files, add more, restart with the
    SAME checkpoint: already-processed files are not re-read; new ones
    apply; state converges to the batch oracle."""
    chunks_dir = str(tmp_path / "log")
    ckpt = str(tmp_path / "ckpt")
    paths = write_changelog_chunks(spark, SPEC, str(tmp_path / "staging"), n_chunks=6)
    import shutil

    # stage only first 3 chunks into the watched dir
    for p in paths[:3]:
        shutil.copytree(p, f"{chunks_dir}/{p.split('/')[-1]}")
    tbl = SnapshotTable(spark, str(tmp_path / "t"), n_buckets=8).create(PAYLOAD)
    q1 = apply_stream(stream_changelog(spark, chunks_dir), tbl, ckpt)
    q1.awaitTermination(300)
    v_mid = tbl.current_version()
    assert v_mid >= 1
    # "new binlog segments arrive"
    for p in paths[3:]:
        shutil.copytree(p, f"{chunks_dir}/{p.split('/')[-1]}")
    q2 = apply_stream(stream_changelog(spark, chunks_dir), tbl, ckpt)
    q2.awaitTermination(300)
    assert _canon(tbl.read()) == _expected(spark)


def test_stream_redelivery_is_noop(spark, tmp_path):
    """Fresh checkpoint over the same files (Spark re-delivers everything):
    the table ledger must skip every batch — exactly-once without the
    checkpoint's help."""
    chunks_dir = str(tmp_path / "log")
    write_changelog_chunks(spark, SPEC, chunks_dir, n_chunks=4)
    tbl = SnapshotTable(spark, str(tmp_path / "t"), n_buckets=8).create(PAYLOAD)
    q1 = apply_stream(stream_changelog(spark, chunks_dir), tbl, str(tmp_path / "c1"))
    q1.awaitTermination(300)
    v1 = tbl.current_version()
    state = _canon(tbl.read())
    q2 = apply_stream(stream_changelog(spark, chunks_dir), tbl, str(tmp_path / "c2"))
    q2.awaitTermination(300)
    assert tbl.current_version() == v1  # no new snapshots
    assert _canon(tbl.read()) == state


def test_stream_schema_evolution(spark, tmp_path):
    """Early segments lack `tool`; stream schema is the union — old rows
    null, later rows populated, final state matches the nulled oracle."""
    chunks_dir = str(tmp_path / "log")
    write_changelog_chunks(
        spark, SPEC, chunks_dir, n_chunks=4, drop_tool_before_chunk=2
    )
    tbl = SnapshotTable(spark, str(tmp_path / "t"), n_buckets=8).create(PAYLOAD)
    q = apply_stream(stream_changelog(spark, chunks_dir), tbl, str(tmp_path / "ckpt"))
    q.awaitTermination(300)
    sz = (SPEC.n_events + 3) // 4
    ev = change_events(spark, SPEC).withColumn(
        "tool",
        F.when(F.col("lsn") < 2 * sz, F.lit(None).cast("string")).otherwise(
            F.col("tool")
        ),
    )
    want = sorted(
        tuple(r)
        for r in expected_final_state(ev)
        .select("conv_id", "turn_idx", "role", "text", "tool", "ts")
        .collect()
    )
    assert _canon(tbl.read()) == want
