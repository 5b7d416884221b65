"""SnapshotTable merge semantics: upsert, delete, idempotent replay,
schema evolution, compaction, lineage manifest."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from caterpillar_spark import session
from caterpillar_spark.cdc import apply_changes, replay_chunks, segment_footer_stats
from caterpillar_spark.generator import (
    GeneratorSpec,
    change_events,
    expected_final_state,
    write_changelog_chunks,
)
from caterpillar_spark.sinks import snapshot_table
from caterpillar_spark.sinks.snapshot_table import SnapshotTable

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

SPEC = GeneratorSpec(n_events=8_000, n_convs=40, turns_per_conv=10, seed=11)


def _final_state_canon(df):
    rows = df.select("conv_id", "turn_idx", "role", "text", "tool", "ts").collect()
    return sorted(tuple(r) for r in rows)


def _expected_canon(spark, spec):
    ev = change_events(spark, spec)
    exp = expected_final_state(ev)
    return sorted(
        tuple(r)
        for r in exp.select("conv_id", "turn_idx", "role", "text", "tool", "ts").collect()
    )


def test_single_batch_replay_matches_oracle(spark, tmp_path):
    tbl = SnapshotTable(spark, str(tmp_path / "t"), n_buckets=16).create(PAYLOAD)
    ev = change_events(spark, SPEC)
    res = apply_changes(ev, tbl, batch_id=0)
    assert res.snapshot_version == 1
    assert _final_state_canon(tbl.read()) == _expected_canon(spark, SPEC)


def test_chunked_replay_matches_oracle(spark, tmp_path):
    tbl = SnapshotTable(spark, str(tmp_path / "t"), n_buckets=16).create(PAYLOAD)
    chunks = write_changelog_chunks(spark, SPEC, str(tmp_path / "log"), n_chunks=5)
    results = replay_chunks(spark, chunks, tbl)
    assert [r.snapshot_version for r in results] == [1, 2, 3, 4, 5]
    assert _final_state_canon(tbl.read()) == _expected_canon(spark, SPEC)
    # every chunk has at least the table's rows (the table holds at most
    # n_convs x turns keys), so its CoW candidates hold at most its own
    # rows: every chunk merges copy-on-write, and no commit added deltas
    assert min(r.rows_in for r in results) >= SPEC.n_convs * SPEC.turns_per_conv
    assert not tbl.snapshot().has_deltas()


def test_replay_idempotent(spark, tmp_path):
    tbl = SnapshotTable(spark, str(tmp_path / "t"), n_buckets=16).create(PAYLOAD)
    chunks = write_changelog_chunks(spark, SPEC, str(tmp_path / "log"), n_chunks=4)
    replay_chunks(spark, chunks, tbl)
    state1 = _final_state_canon(tbl.read())
    v1 = tbl.current_version()
    # full re-replay: every chunk must be skipped, state unchanged
    again = replay_chunks(spark, chunks, tbl)
    assert all(r.snapshot_version == -1 for r in again)
    assert tbl.current_version() == v1
    assert _final_state_canon(tbl.read()) == state1


def test_resume_from_partial_replay(spark, tmp_path):
    """Crash mid-replay, then re-run from the top: applied chunks skip,
    remaining apply; final state byte-equal to the one-shot replay."""
    chunks_dir = str(tmp_path / "log")
    chunks = write_changelog_chunks(spark, SPEC, chunks_dir, n_chunks=6)
    tbl = SnapshotTable(spark, str(tmp_path / "t"), n_buckets=16).create(PAYLOAD)
    replay_chunks(spark, chunks[:3], tbl)  # "crash" after 3 chunks
    results = replay_chunks(spark, chunks, tbl)  # restart from the top
    assert [r.snapshot_version for r in results[:3]] == [-1, -1, -1]
    assert all(r.snapshot_version > 0 for r in results[3:])
    assert _final_state_canon(tbl.read()) == _expected_canon(spark, SPEC)


def test_two_streams_interleaved_with_crash_retry(spark, tmp_path):
    """The ledger keys applied ranges BY STREAM: two streams with
    overlapping numeric LSN spaces interleave batches into one table; one
    commit crashes after its data files are written (pre-link) and is
    retried; redeliveries on both streams no-op. Final state and both
    ledgers must come out exact — the multi-writer story of the
    exactly-once gate."""
    import datetime as dt

    from caterpillar_spark.sinks.table_log import TableLog

    TS = dt.datetime(2024, 1, 1)

    def ev(rows):  # (lsn, op, conv, turn, text)
        return spark.createDataFrame(
            [(l, o, c, t, "user", x, None, TS) for l, o, c, t, x in rows],
            T.StructType(
                [
                    T.StructField("lsn", T.LongType()),
                    T.StructField("op", T.StringType()),
                ]
                + list(PAYLOAD.fields)
            ),
        )

    tbl = SnapshotTable(spark, str(tmp_path / "t"), n_buckets=8).create(PAYLOAD)
    a0 = ev([(i, "I", f"conv_a_{i:04d}", 0, "a-v1") for i in range(20)])
    b0 = ev([(i, "I", f"conv_b_{i:04d}", 0, "b-v1") for i in range(15)])
    a1 = ev(
        [(100 + i, "U", f"conv_a_{i:04d}", 0, "a-v2") for i in range(5)]
        + [(150, "D", "conv_a_0019", 0, None)]
    )
    b1 = ev([(100 + i, "U", f"conv_b_{i:04d}", 0, "b-v2") for i in range(3)])

    v, _ = tbl.merge(a0, 0, (0, 19), stream_id="A")
    assert v == 1
    v, _ = tbl.merge(b0, 0, (0, 14), stream_id="B")
    assert v == 2

    # stream A's next commit CRASHES after writing data files, before the
    # atomic snapshot link — nothing may become visible
    real_commit = TableLog.commit
    boom = {"armed": True}

    def crashing_commit(self, snap, *args, **kwargs):
        if boom["armed"] and snap.version > 2:
            boom["armed"] = False
            raise RuntimeError("simulated crash before atomic commit")
        return real_commit(self, snap, *args, **kwargs)

    TableLog.commit = crashing_commit
    try:
        try:
            tbl.merge(a1, 1, (100, 150), stream_id="A")
            raise AssertionError("crash did not fire")
        except RuntimeError as e:
            assert "simulated crash" in str(e)
    finally:
        TableLog.commit = real_commit
    # the crashed commit is invisible: version unmoved, range unapplied
    fresh = SnapshotTable(spark, str(tmp_path / "t"), n_buckets=8)
    assert fresh.current_version() == 2
    assert fresh.applied_ranges("A") == [[0, 19]]
    assert {r["text"] for r in fresh.read().collect()} == {"a-v1", "b-v1"}

    # retry the crashed batch (fresh handle, as a restarted job would)
    v, _ = fresh.merge(a1, 1, (100, 150), stream_id="A")
    assert v == 3
    v, _ = fresh.merge(b1, 1, (100, 102), stream_id="B")
    assert v == 4

    # redelivery on BOTH streams no-ops — including stream A's numeric
    # range (0,19), which stream B also used: ledgers are per-stream
    assert fresh.merge(a0, 0, (0, 19), stream_id="A")[0] == -1
    assert fresh.merge(b0, 0, (0, 14), stream_id="B")[0] == -1
    assert fresh.merge(a1, 1, (100, 150), stream_id="A")[0] == -1
    assert fresh.current_version() == 4

    got = {r["conv_id"]: r["text"] for r in fresh.read().collect()}
    assert len(got) == 20 + 15 - 1  # one A-row deleted
    assert "conv_a_0019" not in got
    assert got["conv_a_0000"] == "a-v2" and got["conv_a_0005"] == "a-v1"
    assert got["conv_b_0000"] == "b-v2" and got["conv_b_0003"] == "b-v1"
    assert fresh.applied_ranges("A") == [[0, 19], [100, 150]]
    assert fresh.applied_ranges("B") == [[0, 14], [100, 102]]


def test_delete_then_old_replay_does_not_resurrect(spark, tmp_path):
    """Tombstones + ledger: re-applying an old chunk after a later delete
    must not resurrect the row."""
    tbl = SnapshotTable(spark, str(tmp_path / "t"), n_buckets=4).create(PAYLOAD)
    chunks = write_changelog_chunks(spark, SPEC, str(tmp_path / "log"), n_chunks=4)
    replay_chunks(spark, chunks, tbl)
    state = _final_state_canon(tbl.read())
    # re-apply chunk 0 (older revisions incl. rows later deleted)
    replay_chunks(spark, chunks[:1], tbl)
    assert _final_state_canon(tbl.read()) == state


def test_schema_evolution_tool_arrives_midstream(spark, tmp_path):
    """Early chunks lack `tool`; it appears mid-stream. Table starts
    without it, evolves additively, old rows read as null."""
    start_schema = T.StructType([f for f in PAYLOAD.fields if f.name != "tool"])
    tbl = SnapshotTable(spark, str(tmp_path / "t"), n_buckets=8).create(start_schema)
    chunks = write_changelog_chunks(
        spark, SPEC, str(tmp_path / "log"), n_chunks=4, drop_tool_before_chunk=2
    )
    replay_chunks(spark, chunks, tbl)
    assert "tool" in [f.name for f in tbl.payload_schema().fields]
    got = tbl.read()
    assert "tool" in got.columns
    # oracle: events with tool column nulled for the early chunk range
    sz = (SPEC.n_events + 3) // 4
    ev = change_events(spark, SPEC).withColumn(
        "tool",
        F.when(F.col("lsn") < 2 * sz, F.lit(None).cast("string")).otherwise(
            F.col("tool")
        ),
    )
    exp = expected_final_state(ev)
    assert _final_state_canon(got) == sorted(
        tuple(r)
        for r in exp.select(
            "conv_id", "turn_idx", "role", "text", "tool", "ts"
        ).collect()
    )


def test_compact_preserves_state_and_drops_tombstones(spark, tmp_path):
    tbl = SnapshotTable(spark, str(tmp_path / "t"), n_buckets=8).create(PAYLOAD)
    chunks = write_changelog_chunks(spark, SPEC, str(tmp_path / "log"), n_chunks=3)
    replay_chunks(spark, chunks, tbl)
    state = _final_state_canon(tbl.read())
    n_tomb = tbl.read(include_deleted=True).filter(F.col("_deleted")).count()
    assert n_tomb > 0
    tbl.compact(drop_tombstones=True)
    assert _final_state_canon(tbl.read()) == state
    assert tbl.read(include_deleted=True).filter(F.col("_deleted")).count() == 0


def test_empty_batch_still_commits_offset_range(spark, tmp_path):
    """A batch whose rows were all filtered upstream (e.g. quarantined)
    must still record its offset range — otherwise the ledger keeps a
    permanent hole and replay-completeness checks never converge."""
    tbl = SnapshotTable(spark, str(tmp_path / "t"), n_buckets=4).create(PAYLOAD)
    empty = spark.createDataFrame(
        [],
        T.StructType(
            [
                T.StructField("lsn", T.LongType()),
                T.StructField("op", T.StringType()),
            ]
            + list(PAYLOAD.fields)
        ),
    )
    v, counts = tbl.merge(empty, batch_id=0, offset_range=(100, 110))
    assert v == 1 and counts == [(-1, 0)]
    assert tbl.applied_ranges() == [[100, 110]]
    assert tbl.read().count() == 0
    # re-delivery of the covered empty range no-ops
    assert tbl.merge(empty, batch_id=0, offset_range=(100, 110))[0] == -1


def test_merge_commits_record_their_phase_seconds(spark, tmp_path, monkeypatch):
    """A CoW, a delta and an empty-batch merge each commit their operation
    and phase seconds in the snapshot summary; a batch the ledger skips
    commits no snapshot at all."""
    chunks = write_changelog_chunks(spark, SPEC, str(tmp_path / "log"), n_chunks=3)
    tbl = SnapshotTable(spark, str(tmp_path / "t"), n_buckets=8).create(PAYLOAD)
    monkeypatch.setattr(snapshot_table, "_DELTA_THRESHOLD", float("inf"))  # CoW
    replay_chunks(spark, chunks[:1], tbl)
    monkeypatch.setattr(snapshot_table, "_DELTA_THRESHOLD", -1)  # delta
    replay_chunks(spark, chunks[1:2], tbl)
    lo, hi, _ = segment_footer_stats(chunks[2])
    empty = spark.read.parquet(chunks[2]).filter(F.lit(False))
    assert tbl.merge(empty, 2, (lo, hi)) == (3, [(-1, 0)])

    cow, delta, none = (tbl.snapshot(v) for v in (1, 2, 3))
    assert cow.buckets and not cow.has_deltas() and delta.has_deltas()
    assert tbl.snapshot(0).summary["operation"] == "create"
    assert [s.summary["operation"] for s in (cow, delta, none)] == [
        "cow", "delta", "empty"
    ]
    # the one-file delta segment was reduced and written on the driver
    assert [s.summary.get("driver") for s in (cow, delta, none)] == [None, True, None]
    for snap in (cow, delta, none):
        seconds = {
            k: v for k, v in snap.summary.items() if k not in ("operation", "driver")
        }
        assert set(seconds) == {
            "stats_pass_s", "plan_s", "write_s", "footer_s", "manifest_s"
        }
        assert min(seconds.values()) >= 0
    assert min(cow.summary["write_s"], delta.summary["write_s"]) > 0
    assert none.summary["write_s"] == 0

    results = replay_chunks(spark, chunks, tbl)
    assert [r.snapshot_version for r in results] == [-1, -1, -1]
    assert tbl.current_version() == 3


def test_manifest_lineage(spark, tmp_path):
    tbl = SnapshotTable(spark, str(tmp_path / "t"), n_buckets=8).create(PAYLOAD)
    chunks = write_changelog_chunks(spark, SPEC, str(tmp_path / "log"), n_chunks=3)
    replay_chunks(spark, chunks, tbl)
    m = tbl.manifest()
    # per-batch, per-source-partition rows covering the whole LSN space
    assert m.agg(F.sum("rows_applied")).collect()[0][0] == SPEC.n_events
    assert m.select("batch_id").distinct().count() == 3
    assert m.select("partition").distinct().count() == SPEC.n_source_partitions
    lo, hi = m.agg(F.min("offset_start"), F.max("offset_end")).collect()[0]
    assert (lo, hi) == (0, SPEC.n_events - 1)

    # a direct merge() with a known range and no counts: the counts come
    # from the merge's own stats pass, one lineage row per source partition
    tbl2 = SnapshotTable(spark, str(tmp_path / "t2"), n_buckets=8).create(PAYLOAD)
    ev = change_events(spark, SPEC)
    _, counts = tbl2.merge(ev, 0, (0, SPEC.n_events - 1))
    per_sp = {
        r["source_partition"]: r["count"]
        for r in ev.groupBy("source_partition").count().collect()
    }
    got = {r["partition"]: r["rows_applied"] for r in tbl2.manifest().collect()}
    assert got == per_sp == dict(counts)
    assert sum(got.values()) == SPEC.n_events

    # more source partitions than any fixed-width counter would hold:
    # every partition of a chunked replay is recorded as itself, none as -1
    wide = GeneratorSpec(
        n_events=4_000, n_convs=40, turns_per_conv=10, seed=17,
        n_source_partitions=40,
    )
    chunks3 = write_changelog_chunks(spark, wide, str(tmp_path / "log3"), n_chunks=2)
    tbl3 = SnapshotTable(spark, str(tmp_path / "t3"), n_buckets=8).create(PAYLOAD)
    replay_chunks(spark, chunks3, tbl3)
    log_parts = {
        r[0]
        for r in change_events(spark, wide)
        .select("source_partition")
        .distinct()
        .collect()
    }
    assert max(log_parts) >= 32
    m3 = tbl3.manifest()
    assert {r[0] for r in m3.select("partition").distinct().collect()} == log_parts
    assert m3.agg(F.sum("rows_applied")).collect()[0][0] == wide.n_events


def test_covered_footer_range_launches_no_spark_job(
    spark, tmp_path, monkeypatch, spark_jobs
):
    """A segment whose footer range the ledger already covers is skipped
    by the merge's ledger check alone — no stats pass, no Spark job, and
    not even a plan built to count the batch's partitions, and no
    driver-side collect."""
    tbl = SnapshotTable(spark, str(tmp_path / "t"), n_buckets=8).create(PAYLOAD)
    chunks = write_changelog_chunks(spark, SPEC, str(tmp_path / "log"), n_chunks=2)
    replay_chunks(spark, chunks, tbl)
    lo, hi, _ = segment_footer_stats(chunks[0])
    events = spark.read.parquet(chunks[0])
    counted, collected = [], []
    monkeypatch.setattr(snapshot_table, "input_partitions", counted.append)
    monkeypatch.setattr(type(events), "toArrow", collected.append)
    with spark_jobs("covered-footer") as jobs:
        res = apply_changes(events, tbl, batch_id=0, offset_range=(lo, hi))
    assert (res.snapshot_version, res.rows_in) == (-1, 0)
    assert jobs == [] and counted == [] and collected == []


def test_adhoc_merge_derives_its_own_range(spark, tmp_path):
    """merge() with no offset range runs the stats pass itself: the ledger
    records [min lsn, max lsn] and the lineage matches apply_changes'.
    An empty ad-hoc batch has no range to record and commits nothing."""
    ev = change_events(spark, SPEC)
    tbl = SnapshotTable(spark, str(tmp_path / "t"), n_buckets=8).create(PAYLOAD)
    v, counts = tbl.merge(ev, 0, offset_range=None)
    lo, hi = ev.agg(F.min("lsn"), F.max("lsn")).collect()[0]
    assert v == 1 and tbl.applied_ranges() == [[lo, hi]]
    ref = SnapshotTable(spark, str(tmp_path / "ref"), n_buckets=8).create(PAYLOAD)
    assert apply_changes(ev, ref, batch_id=0).rows_in == SPEC.n_events

    def lineage(t):
        return sorted(
            (r["partition"], r["rows_applied"], r["offset_start"], r["offset_end"])
            for r in t.manifest().collect()
        )

    assert lineage(tbl) == lineage(ref)
    assert sorted(counts) == [(p, n) for p, n, _, _ in lineage(tbl)]

    assert tbl.merge(ev.filter(F.lit(False)), 1) == (-1, None)
    assert tbl.current_version() == 1


def test_stats_pass_runs_at_most_once_per_batch(spark, tmp_path, monkeypatch):
    """The merge runs the one stats pass for every batch the ledger does
    not skip — an ad-hoc batch, a known range, a table-sized first chunk —
    and none for a covered range."""
    calls = []
    batch_stats = SnapshotTable._batch_stats

    def counted(self, df):
        calls.append(1)
        return batch_stats(self, df)

    monkeypatch.setattr(SnapshotTable, "_batch_stats", counted)

    def stats_passes(run) -> int:
        calls.clear()
        run()
        return len(calls)

    chunks = write_changelog_chunks(spark, SPEC, str(tmp_path / "log"), n_chunks=2)
    tbl = SnapshotTable(spark, str(tmp_path / "t"), n_buckets=8).create(PAYLOAD)
    # bulk first chunk: its rows reach the (empty) table's rows
    assert stats_passes(lambda: replay_chunks(spark, chunks[:1], tbl)) == 1
    lo, hi, _ = segment_footer_stats(chunks[0])
    covered = spark.read.parquet(chunks[0])
    assert stats_passes(
        lambda: apply_changes(covered, tbl, 0, offset_range=(lo, hi))
    ) == 0
    lo, hi, _ = segment_footer_stats(chunks[1])
    known = spark.read.parquet(chunks[1])
    assert stats_passes(lambda: tbl.merge(known, 1, (lo, hi))) == 1
    adhoc = SnapshotTable(spark, str(tmp_path / "t2"), n_buckets=8).create(PAYLOAD)
    assert stats_passes(
        lambda: apply_changes(change_events(spark, SPEC), adhoc, batch_id=0)
    ) == 1


def test_apply_changes_null_key_group_stats(spark, tmp_path):
    """A batch with NULL conv_ids raises before it writes anything, with
    the count and the quarantine to route such rows through (a NULL key
    has no bucket or key range, so a merge could leave two live rows for
    it); a NULL source_partition is counted as lineage partition -1."""
    import datetime

    ts = datetime.datetime(2024, 1, 1)
    tbl = SnapshotTable(spark, str(tmp_path / "t"), n_buckets=2).create(PAYLOAD)
    rows = [
        (i, 1, "U", f"c{i}", 0, "user", "a", None, ts) for i in range(8)
    ] + [
        (8, 2, "U", None, 1, "user", "c", None, ts),
        (9, 2, "U", None, 2, "user", "d", None, ts),
        (10, None, "U", "c10", 0, "user", "e", None, ts),
    ]
    events = spark.createDataFrame(
        rows,
        "lsn long, source_partition int, op string, conv_id string, "
        "turn_idx int, role string, text string, tool string, ts timestamp",
    )
    with pytest.raises(ValueError, match="2 with a NULL conv_id") as err:
        apply_changes(events, tbl, batch_id=0)  # offset_range=None path
    assert "validate_change_events" in str(err.value)
    assert tbl.current_version() == 0
    res = apply_changes(events.filter("conv_id IS NOT NULL"), tbl, batch_id=0)
    assert res.snapshot_version == 1
    assert tbl.read().count() == 9
    # a row without a source partition is counted as partition -1
    got = {r["partition"]: r["rows_applied"] for r in tbl.manifest().collect()}
    assert got == {-1: 1, 1: 8}


def test_merge_column_cache_reused_across_batches_and_handles(spark, tmp_path):
    """r7 serial-share shave: the LWW/projection Column lists are
    built once per (applicationId, shape) and reused across batches AND
    table handles — rebuilding them was ~0.25s/batch of pure py4j driver-
    serial cost. Reuse must not change results (covered by the replay
    assertions here) and the cache must not grow per batch."""
    chunks = write_changelog_chunks(spark, SPEC, str(tmp_path / "log"), n_chunks=3)
    tbl = SnapshotTable(spark, str(tmp_path / "t"), n_buckets=16).create(PAYLOAD)
    replay_chunks(spark, chunks, tbl)
    app, cache = session._column_cache
    assert app == spark.sparkContext.applicationId
    kinds = {k[0] for k in cache}
    assert {"merge_sys_cols", "lww_agg", "lww_sel"} <= kinds
    n_entries = len(cache)
    # same shapes through a second handle + table: zero new cache entries,
    # identical final state
    tbl2 = SnapshotTable(spark, str(tmp_path / "t2"), n_buckets=16).create(PAYLOAD)
    replay_chunks(spark, chunks, tbl2)
    assert session._column_cache[1] is cache and len(cache) == n_entries
    assert _final_state_canon(tbl2.read()) == _expected_canon(spark, SPEC)


def test_column_cache_holds_one_application(monkeypatch):
    """The Column-list cache keeps only the current application's lists:
    a new applicationId (a restarted session) replaces them, so refs into
    a dead JVM are dropped instead of accumulating."""
    from types import SimpleNamespace

    monkeypatch.setattr(session, "_column_cache", (None, {}))

    def fake_spark(app_id):
        return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app_id))

    builds = []

    def build():
        builds.append(1)
        return [object()]

    a1 = session.cached_columns(fake_spark("app-1"), "k", (1,), build)
    assert session.cached_columns(fake_spark("app-1"), "k", (1,), build) is a1
    session.cached_columns(fake_spark("app-1"), "k", (2,), build)
    assert len(builds) == 2 and len(session._column_cache[1]) == 2
    a2 = session.cached_columns(fake_spark("app-2"), "k", (1,), build)
    assert a2 is not a1 and len(builds) == 3
    assert session._column_cache[0] == "app-2"
    assert list(session._column_cache[1]) == [("k", (1,))]
