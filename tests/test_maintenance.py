"""Table maintenance: optimistic-concurrency conflicts, snapshot expiry."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import types as T

from caterpillar_spark.cdc import replay_chunks
from caterpillar_spark.generator import GeneratorSpec, write_changelog_chunks
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
SPEC = GeneratorSpec(n_events=3_000, n_convs=15, turns_per_conv=10, seed=53)


def test_concurrent_commit_conflict(spark, tmp_path):
    """A competing writer that claims the next version first makes our
    commit fail loudly (optimistic concurrency, like Iceberg) — never a
    silent overwrite."""
    tbl = SnapshotTable(spark, str(tmp_path / "t"), n_buckets=4).create(PAYLOAD)
    chunks = write_changelog_chunks(spark, SPEC, str(tmp_path / "log"), n_chunks=2)
    replay_chunks(spark, chunks[:1], tbl)
    # competing writer sneaks in version 2
    v2 = tbl.log.snap_path(2)
    with open(v2, "w") as f:
        json.dump(json.load(open(tbl.log.snap_path(1))), f)
    with pytest.raises(FileExistsError):
        replay_chunks(spark, chunks[1:], tbl)


def test_expire_snapshots(spark, tmp_path):
    tbl = SnapshotTable(spark, str(tmp_path / "t"), n_buckets=4).create(PAYLOAD)
    chunks = write_changelog_chunks(spark, SPEC, str(tmp_path / "log"), n_chunks=3)
    replay_chunks(spark, chunks, tbl)
    state = sorted(tuple(r) for r in tbl.read().collect())
    data_root = str(tmp_path / "t" / "data")
    assert len(os.listdir(data_root)) == 3  # one dir per commit
    removed = tbl.expire_snapshots(keep_last=1, grace_seconds=0)
    # current snapshot still fully readable, byte-identical state
    assert sorted(tuple(r) for r in tbl.read().collect()) == state
    # old-only dirs gone (v3 may reference older dirs for untouched buckets,
    # so we assert only that expiry removed something AND nothing live)
    assert all(not os.path.exists(d) for d in removed)
    live = {
        os.path.dirname(f)
        for files in tbl.snapshot().buckets.values()
        for f in files
    }
    assert all(os.path.isdir(d) for d in live)


def test_expire_grace_window_protects_inflight_writer(spark, tmp_path):
    """An unreferenced data dir younger than the grace window is an
    in-flight (or just-crashed) writer's dir, not garbage: expire must
    skip it, and collect it only once it has aged past the window."""
    import time

    tbl = SnapshotTable(spark, str(tmp_path / "t"), n_buckets=4).create(PAYLOAD)
    chunks = write_changelog_chunks(spark, SPEC, str(tmp_path / "log"), n_chunks=1)
    replay_chunks(spark, chunks, tbl)
    # simulate a concurrent merge mid-commit: data dir exists, snapshot not
    # yet linked
    orphan = str(tmp_path / "t" / "data" / "v99-deadbeef0000")
    os.makedirs(orphan)
    assert tbl.expire_snapshots(keep_last=1) == []  # default grace: skipped
    assert os.path.isdir(orphan)
    # age it past the window -> collected
    old = time.time() - 7200
    os.utime(orphan, (old, old))
    removed = tbl.expire_snapshots(keep_last=1, grace_seconds=3600)
    assert orphan in removed and not os.path.exists(orphan)


def test_nbuckets_adopted_from_snapshot(spark, tmp_path):
    """The stored bucket count is authoritative: reopening a 8-bucket table
    with the library default (64) must adopt 8, not silently under-read
    (read iterates range(n_buckets)) or mis-route merges (ADVICE r2)."""
    root = str(tmp_path / "t")
    SnapshotTable(spark, root, n_buckets=8).create(PAYLOAD)
    chunks = write_changelog_chunks(spark, SPEC, str(tmp_path / "log"), n_chunks=2)
    tbl_w = SnapshotTable(spark, root)  # default 64 — wrong on purpose
    assert tbl_w.n_buckets == 8  # adopted on open, before any merge
    replay_chunks(spark, chunks[:1], tbl_w)
    assert tbl_w.n_buckets == 8
    expected = sorted(tuple(r) for r in tbl_w.read().collect())
    # a second mismatched instance merges more and still reads exactly once
    # per key
    tbl_r = SnapshotTable(spark, root, n_buckets=256)
    replay_chunks(spark, chunks, tbl_r)  # chunk 0 skipped via ledger
    assert tbl_r.n_buckets == 8
    rows = tbl_r.read().collect()
    keys = [(r["conv_id"], r["turn_idx"]) for r in rows]
    assert len(keys) == len(set(keys)) and len(keys) >= len(expected)


def test_format2_stamped_on_commit_into_format1_empty(spark, tmp_path):
    """An EMPTY legacy table whose v0 carries no properties takes merges:
    the first commit stamps the bucket count and the table keeps loading
    (ADVICE r2)."""
    root = str(tmp_path / "t")
    tbl = SnapshotTable(spark, root, n_buckets=4).create(PAYLOAD)
    # rewrite v0 as a legacy snapshot: no format / n_buckets properties
    p0 = tbl.log.snap_path(0)
    raw = json.load(open(p0))
    raw["properties"] = {}
    os.unlink(p0)
    with open(p0, "w") as f:
        json.dump(raw, f)
    chunks = write_changelog_chunks(spark, SPEC, str(tmp_path / "log"), n_chunks=1)
    replay_chunks(spark, chunks, tbl)
    snap = tbl.snapshot()
    assert snap.properties.get("n_buckets") == 4


def test_inline_bucket_pointers_raise_on_load(spark, tmp_path):
    """A snapshot JSON with inline bucket/delta pointers comes from a
    retired writer: loading it raises instead of letting the next commit
    silently drop every bucket it does not touch. The constructor defers
    the error so repair flows can still open the table."""
    root = str(tmp_path / "t")
    tbl = SnapshotTable(spark, root, n_buckets=4).create(PAYLOAD)
    for field in ("buckets", "deltas"):
        raw = json.load(open(tbl.log.snap_path(0)))
        raw.update(version=1, parent=0, **{field: {"2": ["data/x/part-00002.parquet"]}})
        with open(tbl.log.snap_path(1), "w") as f:
            json.dump(raw, f)
        reopened = SnapshotTable(spark, root)  # deferred, not raised
        with pytest.raises(RuntimeError, match="inline bucket pointers"):
            reopened.snapshot()
        with pytest.raises(RuntimeError, match="inline bucket pointers"):
            reopened.read()
        os.unlink(tbl.log.snap_path(1))
    assert tbl.snapshot().version == 0  # empty inline maps load fine


def test_per_bucket_manifests_raise_on_load(spark, tmp_path):
    """A snapshot in the retired per-bucket manifest format ({manifest:
    [bucket ids]}, each manifest holding whole buckets' states) is refused
    with the rewrite error by snapshot() and read(); the constructor
    defers it so repair flows can still open the table."""
    root = str(tmp_path / "t")
    tbl = SnapshotTable(spark, root, n_buckets=4).create(PAYLOAD)
    os.makedirs(os.path.join(root, "_log", "manifests"))
    name = "m000000000001-0123456789ab.json"
    path = os.path.join(root, "data", "v1-0123456789ab", "part-00002.parquet")
    bucket = {"base": [path], "deltas": [], "file_stats": {path: {"rows": 1}}}
    with open(os.path.join(root, "_log", "manifests", name), "w") as f:
        json.dump({"2": bucket}, f)
    raw = json.load(open(tbl.log.snap_path(0)))
    raw.update(version=1, parent=0, manifests={name: [2]})
    with open(tbl.log.snap_path(1), "w") as f:
        json.dump(raw, f)
    reopened = SnapshotTable(spark, root)  # deferred, not raised
    for load in (reopened.snapshot, reopened.read):
        with pytest.raises(RuntimeError, match="per-bucket manifests.*rewrite"):
            load()
