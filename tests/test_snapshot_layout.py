"""SnapshotTable v2 layout invariants: one bucket per file (partition
index == pmod(hash(conv_id), n) == bucket id), per-file key stats +
file-level merge pruning, merge-on-read deltas, collision-free commit dirs. Regression coverage for the round-1
advice findings (co-hashed stale-row resurrection; concurrent-commit
clobber)."""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from caterpillar_spark.sinks import snapshot_table
from caterpillar_spark.sinks.snapshot_table import (
    SnapshotTable,
    murmur3_hash_bytes,
)

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

EVENT_SCHEMA = T.StructType(
    [
        T.StructField("lsn", T.LongType()),
        T.StructField("op", T.StringType()),
    ]
    + list(PAYLOAD.fields)
)

TS = dt.datetime(2024, 1, 1)


def _events(spark, rows):
    """rows: (lsn, op, conv_id, turn_idx, text)."""
    return spark.createDataFrame(
        [(lsn, op, c, t, "user", txt, None, TS) for lsn, op, c, t, txt in rows],
        EVENT_SCHEMA,
    )


def _insert_batch(spark, convs, lsn0, text="v1"):
    return _events(
        spark,
        [(lsn0 + i, "I", c, 0, f"{text}:{c}") for i, c in enumerate(convs)],
    )


def _table_bytes(tbl):
    snap = tbl.snapshot()
    paths = {
        p
        for ps in list(snap.buckets.values()) + list(snap.deltas.values())
        for p in ps
    }
    return sum(os.path.getsize(p) for p in paths), paths


def test_repartition_places_bucket_in_matching_partition(spark):
    """``repartition(n, conv_id)`` must land every row whose
    ``bucket_expr`` value is b in shuffle partition b — the identity the
    r7 single-exchange merge write rests on (partition index == bucket
    id with no inverse-hash routing column)."""
    from pyspark.sql import functions as F

    n = 16
    df = spark.createDataFrame(
        [(f"conv_{i:06d}",) for i in range(500)], "conv_id string"
    )
    placed = (
        df.repartition(n, F.col("conv_id"))
        .select(
            "conv_id",
            F.spark_partition_id().alias("pid"),
            F.pmod(F.hash("conv_id"), F.lit(n)).cast("int").alias("b"),
        )
        .collect()
    )
    assert len(placed) == 500
    for r in placed:
        assert r["pid"] == r["b"], r
        assert murmur3_hash_bytes(r["conv_id"].encode()) % n == r["b"], r


def test_one_bucket_per_file(spark, tmp_path):
    """Every data file contains rows of exactly the bucket that points at
    it — the invariant the round-1 flat write violated (co-hashed buckets
    shared files, so bucket rewrites left stale rows behind). A row's
    bucket is computed from its key; files store no bucket column."""
    tbl = SnapshotTable(spark, str(tmp_path / "t"), n_buckets=8).create(PAYLOAD)
    convs = [f"conv_{i:06d}" for i in range(200)]
    tbl.merge(_insert_batch(spark, convs, 0), 0, (0, 199))
    snap = tbl.snapshot()
    seen_files: dict[str, int] = {}
    for b_str, files in snap.buckets.items():
        for p in files:
            assert p not in seen_files, "file referenced by two buckets"
            seen_files[p] = int(b_str)
    assert seen_files, "no data files written"
    for p, b in seen_files.items():
        df = spark.read.parquet(p)
        assert "_b" not in df.columns, f"{p} stores a bucket column"
        got = {
            r["b"]
            for r in df.select(F.pmod(F.hash("conv_id"), F.lit(8)).alias("b")).collect()
        }
        assert got == {b}, f"{p} holds buckets {got}, pointer says {b}"


def test_stale_row_regression_single_key_update(spark, tmp_path, monkeypatch):
    """ADVICE r1 (high): wide insert, then a single-key update, then full
    read — must return exactly one row per key with the updated value
    (round-1 returned stale duplicates out of co-hashed files)."""
    monkeypatch.setattr(snapshot_table, "_DELTA_THRESHOLD", float("inf"))  # CoW
    tbl = SnapshotTable(spark, str(tmp_path / "t"), n_buckets=4).create(PAYLOAD)
    convs = [f"conv_{i:06d}" for i in range(20)]
    tbl.merge(_insert_batch(spark, convs, 0), 0, (0, 19))
    tbl.merge(
        _events(spark, [(100, "U", "conv_000007", 0, "v2:conv_000007")]),
        1,
        (100, 100),
    )
    rows = tbl.read().collect()
    assert len(rows) == 20
    by_conv = {r["conv_id"]: r["text"] for r in rows}
    assert len(by_conv) == 20
    assert by_conv["conv_000007"] == "v2:conv_000007"
    assert all(v == f"v1:{c}" for c, v in by_conv.items() if c != "conv_000007")
    # compaction must not resurrect or duplicate either
    tbl.compact()
    rows2 = sorted((r["conv_id"], r["text"]) for r in tbl.read().collect())
    assert rows2 == sorted(by_conv.items())


def test_file_pruning_bounds_write_amplification(spark, tmp_path, monkeypatch):
    """A single-key CoW update against a table with several files per
    bucket must rewrite only the files whose key range contains the key —
    commit bytes ≪ table bytes, untouched files stay referenced."""
    monkeypatch.setattr(snapshot_table, "_DELTA_THRESHOLD", float("inf"))  # CoW
    tbl = SnapshotTable(spark, str(tmp_path / "t"), n_buckets=4).create(PAYLOAD)
    lo_range = [f"conv_{i:06d}" for i in range(150)]
    hi_range = [f"conv_{i:06d}" for i in range(500, 650)]
    tbl.merge(_insert_batch(spark, lo_range, 0), 0, (0, 149))
    tbl.merge(_insert_batch(spark, hi_range, 200), 1, (200, 349))
    before_bytes, before_paths = _table_bytes(tbl)
    # buckets now hold two disjoint-range files each
    snap = tbl.snapshot()
    assert any(len(fs) >= 2 for fs in snap.buckets.values())
    tbl.merge(
        _events(spark, [(1000, "U", "conv_000050", 0, "v2")]),
        2,
        (1000, 1000),
    )
    after_snap = tbl.snapshot()
    _, after_paths = _table_bytes(tbl)
    new_paths = after_paths - before_paths
    new_bytes = sum(os.path.getsize(p) for p in new_paths)
    dropped = before_paths - after_paths
    # only the one overlapping file was rewritten
    assert len(dropped) == 1
    assert new_bytes < 0.55 * before_bytes
    # hi-range files all survived untouched
    hi_stats = [
        s
        for p, s in after_snap.file_stats.items()
        if p in before_paths and s["min_key"] >= "conv_000500"
    ]
    assert len(hi_stats) >= 1
    got = {r["conv_id"]: r["text"] for r in tbl.read().collect()}
    assert len(got) == 300
    assert got["conv_000050"] == "v2"


def test_murmur3_bytes_python_matches_spark(spark):
    """The pure-Python Murmur3_x86_32-over-bytes must agree with F.hash
    on string columns — point-lookup bucket routing rests on it (covers
    aligned words, every tail length, and multi-byte UTF-8)."""
    vals = [f"conv_{i:08d}" for i in range(50)] + [
        "",
        "a",
        "ab",
        "abc",
        "x" * 7,
        "y" * 8,
        "z" * 31,
        "w" * 32,
        "q" * 100,
        "héllo ⚡ wörld",
    ]
    got = {
        r["v"]: r["h"]
        for r in spark.createDataFrame([(v,) for v in vals], "v string")
        .select("v", F.hash("v").alias("h"))
        .collect()
    }
    for v in vals:
        assert murmur3_hash_bytes(v.encode()) == got[v], v


def test_point_lookup_read_prunes_to_one_buckets_files(spark, tmp_path):
    """read(conv_id=...) must scan ONLY the key's bucket — and within it
    only the files whose conv_id min/max overlap the key (the read-side
    twin of merge's CoW pruning). Asserted at the plan level via
    inputFiles(), not just on results."""
    tbl = SnapshotTable(spark, str(tmp_path / "t"), n_buckets=8).create(PAYLOAD)
    lo_range = [f"conv_{i:06d}" for i in range(120)]
    hi_range = [f"conv_{i:06d}" for i in range(500, 620)]
    tbl.merge(_insert_batch(spark, lo_range, 0), 0, (0, 119))
    tbl.merge(_insert_batch(spark, hi_range, 200), 1, (200, 319))
    snap = tbl.snapshot()
    all_files = {p for ps in snap.buckets.values() for p in ps}
    key = "conv_000050"
    b = tbl.bucket_for_key(key)
    bucket_files = set(snap.buckets.get(str(b), []))
    assert len(all_files) > len(bucket_files)  # several buckets populated

    df = tbl.read(conv_id=key)
    scanned = {os.path.realpath(p.removeprefix("file:")) for p in df.inputFiles()}
    expect_bucket = {os.path.realpath(p) for p in bucket_files}
    assert scanned <= expect_bucket, "lookup escaped its bucket"
    # file_stats pruning: the hi-range file in this bucket (disjoint key
    # range) must NOT be scanned — only the lo-range file(s)
    assert len(scanned) < len(expect_bucket) or len(expect_bucket) == 1
    rows = df.collect()
    assert [(r["conv_id"], r["text"]) for r in rows] == [(key, f"v1:{key}")]

    # multi-key lookup unions buckets and still prunes vs the full table
    keys = [key, "conv_000510"]
    df2 = tbl.read(conv_id=keys)
    scanned2 = {os.path.realpath(p.removeprefix("file:")) for p in df2.inputFiles()}
    allowed = {
        os.path.realpath(p)
        for k in keys
        for p in snap.buckets.get(str(tbl.bucket_for_key(k)), [])
    }
    assert scanned2 <= allowed
    assert len(scanned2) < len(all_files)
    assert sorted(r["conv_id"] for r in df2.collect()) == sorted(keys)

    # a missing key reads empty (and a deleted key disappears)
    assert tbl.read(conv_id="conv_999999").count() == 0
    tbl.merge(_events(spark, [(900, "D", key, 0, None)]), 2, (900, 900))
    assert tbl.read(conv_id=key).count() == 0

    # an empty key list is an empty read, not a min()-of-[] crash
    empty = tbl.read(conv_id=[])
    assert empty.count() == 0
    assert empty.columns == tbl.read().columns


def test_point_lookup_nonstring_key_falls_back_unpruned(spark, tmp_path):
    """A table whose conv_id is NOT a string cannot use the driver-side
    xxhash64 inverse (Spark hashes the native binary encoding, not the
    decimal string) — read(conv_id=...) must fall back to the full bucket
    set and still return the right rows rather than silently scanning the
    wrong bucket and returning nothing."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("conv_id", T.LongType()),
            T.StructField("turn_idx", T.IntegerType()),
            T.StructField("text", T.StringType()),
        ]
    )
    tbl = SnapshotTable(spark, str(tmp_path / "tl"), n_buckets=8).create(schema)
    rows = [(int(i), 0, f"v:{i}") for i in range(64)]
    ev = spark.createDataFrame(
        [(i, "I", *r) for i, r in enumerate(rows)],
        "lsn long, op string, conv_id long, turn_idx int, text string",
    )
    tbl.merge(ev, 0, (0, 63))
    hit = tbl.read(conv_id=7).collect()
    assert [(r["conv_id"], r["text"]) for r in hit] == [(7, "v:7")]
    assert sorted(r["conv_id"] for r in tbl.read(conv_id=[3, 9]).collect()) == [3, 9]


def test_point_lookup_float_key_uses_native_values(spark, tmp_path):
    """Float conv_id: the equality filter must compare the caller's native
    value, not a str() repr relied on to implicitly cast back ('7.0' and
    0.1's repr don't round-trip; ANSI throws on non-castable — ADVICE r5)."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("conv_id", T.DoubleType()),
            T.StructField("turn_idx", T.IntegerType()),
            T.StructField("text", T.StringType()),
        ]
    )
    tbl = SnapshotTable(spark, str(tmp_path / "tf"), n_buckets=4).create(schema)
    keys = [0.1, 7.0, 2.5, 1e-3]
    ev = spark.createDataFrame(
        [(i, "I", k, 0, f"v:{k}") for i, k in enumerate(keys)],
        "lsn long, op string, conv_id double, turn_idx int, text string",
    )
    tbl.merge(ev, 0, (0, len(keys) - 1))
    assert [r["text"] for r in tbl.read(conv_id=0.1).collect()] == ["v:0.1"]
    assert sorted(
        r["conv_id"] for r in tbl.read(conv_id=[7.0, 1e-3]).collect()
    ) == [1e-3, 7.0]


def test_point_lookup_skips_reduce_on_delta_free_pruned_set(
    spark, tmp_path, monkeypatch
):
    """A point lookup whose pruned file set carries no deltas must read
    with zero aggregates even when OTHER buckets hold deltas — and a
    lookup that does hit deltas still LWW-reduces correctly."""
    tbl = SnapshotTable(spark, str(tmp_path / "t"), n_buckets=8).create(PAYLOAD)
    convs = [f"conv_{i:06d}" for i in range(64)]
    tbl.merge(_insert_batch(spark, convs, 0), 0, (0, 63))
    # delta-update ONE key -> exactly one bucket gains a delta file
    upd_key = "conv_000007"
    monkeypatch.setattr(snapshot_table, "_DELTA_THRESHOLD", -1)  # delta
    tbl.merge(_events(spark, [(100, "U", upd_key, 0, "v2")]), 1, (100, 100))
    snap = tbl.snapshot()
    assert snap.has_deltas()
    delta_bucket = tbl.bucket_for_key(upd_key)
    clean_key = next(
        c for c in convs if tbl.bucket_for_key(c) != delta_bucket
    )
    clean_plan = tbl.read(conv_id=clean_key)._jdf.queryExecution().executedPlan().toString()
    assert "Aggregate" not in clean_plan  # no LWW reduce on the clean path
    assert tbl.read(conv_id=clean_key).count() == 1
    hit = tbl.read(conv_id=upd_key).collect()
    assert [(r["conv_id"], r["text"]) for r in hit] == [(upd_key, "v2")]


def test_delta_merge_is_o_batch_and_compacts(spark, tmp_path):
    """A tiny batch against a big table takes the delta path: write volume
    is O(batch), base files untouched; reads LWW-reduce; compact folds
    deltas back."""
    tbl = SnapshotTable(spark, str(tmp_path / "t"), n_buckets=4).create(PAYLOAD)
    convs = [f"conv_{i:06d}" for i in range(1000)]
    tbl.merge(_insert_batch(spark, convs, 0), 0, (0, 999))
    base_bytes, base_paths = _table_bytes(tbl)
    # the merge must choose delta: candidate rows (1000) > 3x batch (2)
    tbl.merge(
        _events(
            spark,
            [(5000, "U", "conv_000001", 0, "v2"), (5001, "D", "conv_000002", 0, None)],
        ),
        1,
        (5000, 5001),
    )
    snap = tbl.snapshot()
    assert snap.has_deltas()
    _, after_paths = _table_bytes(tbl)
    assert base_paths <= after_paths  # base files untouched
    delta_bytes = sum(os.path.getsize(p) for p in after_paths - base_paths)
    assert delta_bytes < 0.25 * base_bytes
    got = {r["conv_id"]: r["text"] for r in tbl.read().collect()}
    assert len(got) == 999  # one deleted
    assert got["conv_000001"] == "v2"
    assert "conv_000002" not in got
    # compact: deltas folded, tombstones dropped, state unchanged
    tbl.compact()
    snap2 = tbl.snapshot()
    assert not snap2.has_deltas()
    got2 = {r["conv_id"]: r["text"] for r in tbl.read().collect()}
    assert got2 == got
    assert len(got2) == 999


def test_concurrent_commit_loser_cannot_clobber(spark, tmp_path, monkeypatch):
    """ADVICE r1 (medium): a losing concurrent writer must abort on commit
    WITHOUT touching the winner's committed files (round-1 wrote
    version-keyed dirs with overwrite mode — the loser deleted the
    winner's data before losing the snapshot race)."""
    root = str(tmp_path / "t")
    tbl = SnapshotTable(spark, root, n_buckets=4).create(PAYLOAD)
    convs = [f"conv_{i:06d}" for i in range(30)]
    tbl.merge(_insert_batch(spark, convs, 0), 0, (0, 29))

    loser = SnapshotTable(spark, root, n_buckets=4)
    stale = loser.snapshot()  # both writers observed v1
    monkeypatch.setattr(loser, "snapshot", lambda version=None: stale)

    # winner commits v2 first
    tbl.merge(
        _events(spark, [(100, "U", "conv_000003", 0, "winner")]), 1, (100, 100)
    )
    state = sorted((r["conv_id"], r["text"]) for r in tbl.read().collect())

    with pytest.raises(FileExistsError):
        loser.merge(
            _events(spark, [(200, "U", "conv_000004", 0, "loser")]), 9, (200, 200)
        )
    # winner's committed table is fully intact
    assert sorted((r["conv_id"], r["text"]) for r in tbl.read().collect()) == state
    # the loser's orphan dir is collectable garbage, not live data
    removed = tbl.expire_snapshots(keep_last=10)
    assert sorted((r["conv_id"], r["text"]) for r in tbl.read().collect()) == state
    assert all("data" in d for d in removed)


def test_selective_compaction_and_maintain(spark, tmp_path, monkeypatch):
    """Per-bucket compaction folds only the selected buckets' deltas; cold
    buckets stay byte-untouched; maintain() picks buckets over threshold."""
    tbl = SnapshotTable(spark, str(tmp_path / "t"), n_buckets=4).create(PAYLOAD)
    convs = [f"conv_{i:06d}" for i in range(200)]
    tbl.merge(_insert_batch(spark, convs, 0), 0, (0, 199))
    # pile deltas onto ONE key's bucket
    hot = "conv_000001"
    monkeypatch.setattr(snapshot_table, "_DELTA_THRESHOLD", -1)  # delta
    for i in range(5):
        tbl.merge(
            _events(spark, [(1000 + i, "U", hot, 0, f"v{i}")]),
            1 + i,
            (1000 + i, 1000 + i),
        )
    snap = tbl.snapshot()
    hot_b = [b for b, fs in snap.deltas.items() if fs]
    assert len(hot_b) == 1
    cold_files = {
        p
        for b, fs in snap.buckets.items()
        if b not in hot_b
        for p in fs
    }
    state_before = sorted(
        (r["conv_id"], r["text"]) for r in tbl.read().collect()
    )
    v = tbl.maintain(max_delta_files=4)
    assert v > snap.version
    snap2 = tbl.snapshot()
    assert not snap2.deltas.get(hot_b[0])
    # cold buckets byte-untouched
    for b, fs in snap2.buckets.items():
        if b not in hot_b:
            assert set(fs) <= cold_files
    assert (
        sorted((r["conv_id"], r["text"]) for r in tbl.read().collect())
        == state_before
    )
    # nothing due anymore -> no-op
    assert tbl.maintain(max_delta_files=4) == v


def test_full_delta_replay_matches_cow_replay(spark, tmp_path, monkeypatch):
    """The two merge paths are semantically interchangeable: replaying the
    same chunked log all-delta vs all-CoW converges to identical state.
    The path is pinned through the delta threshold: infinite never picks
    delta, negative always does."""
    from caterpillar_spark.cdc import replay_chunks
    from caterpillar_spark.generator import GeneratorSpec, write_changelog_chunks

    spec = GeneratorSpec(n_events=6_000, n_convs=30, turns_per_conv=10, seed=7)
    chunks = write_changelog_chunks(spark, spec, str(tmp_path / "log"), n_chunks=3)

    t_cow = SnapshotTable(spark, str(tmp_path / "cow"), n_buckets=8).create(PAYLOAD)
    monkeypatch.setattr(snapshot_table, "_DELTA_THRESHOLD", float("inf"))
    replay_chunks(spark, chunks, t_cow)
    t_mor = SnapshotTable(spark, str(tmp_path / "mor"), n_buckets=8).create(PAYLOAD)
    monkeypatch.setattr(snapshot_table, "_DELTA_THRESHOLD", -1)
    replay_chunks(spark, chunks, t_mor)
    assert not t_cow.snapshot().has_deltas()
    assert not t_mor.snapshot().buckets  # every file a delta file

    cols = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    a = sorted(tuple(r) for r in t_cow.read().select(*cols).collect())
    b = sorted(tuple(r) for r in t_mor.read().select(*cols).collect())
    assert a == b
    t_mor.compact()
    assert sorted(tuple(r) for r in t_mor.read().select(*cols).collect()) == a


def test_commit_metadata_is_o_touched_buckets(spark, tmp_path):
    """VERDICT r2 #2: commit metadata must be O(touched buckets), not
    O(table files) — a single-key merge into a 64-bucket table writes a
    snapshot JSON with no file pointers plus one manifest holding only the
    touched bucket, and its byte size stays ~constant as the table grows."""
    import glob
    import json as _json

    tbl = SnapshotTable(spark, str(tmp_path / "t"), n_buckets=64).create(PAYLOAD)
    convs = [f"conv_{i:06d}" for i in range(2000)]
    tbl.merge(_insert_batch(spark, convs, 0), 0, (0, 1999))

    def commit_meta_bytes(version):
        sp = tbl._snap_path(version)
        mans = glob.glob(
            os.path.join(str(tmp_path / "t"), "_log", "manifests",
                         f"m{version:012d}-*.json")
        )
        return os.path.getsize(sp) + sum(os.path.getsize(m) for m in mans), mans

    bulk_bytes, _ = commit_meta_bytes(1)
    # two successive single-key merges
    for i, key in enumerate(["conv_000050", "conv_001700"]):
        tbl.merge(
            _events(spark, [(5000 + i, "U", key, 0, "v2")]),
            2 + i,
            (5000 + i, 5000 + i),
        )
    small1, mans1 = commit_meta_bytes(2)
    small2, mans2 = commit_meta_bytes(3)
    # the bulk commit manifested all 64 buckets; the small ones, ~1
    assert small1 < bulk_bytes / 8, (small1, bulk_bytes)
    assert small2 < bulk_bytes / 8, (small2, bulk_bytes)
    assert abs(small1 - small2) < 0.5 * max(small1, small2)
    # snapshot JSON itself carries no file pointers
    raw = _json.load(open(tbl._snap_path(3)))
    assert raw["buckets"] == {} and raw["file_stats"] == {}
    assert len(raw["manifests"]) <= 64
    # each small commit's manifest holds exactly the touched bucket
    for mans in (mans1, mans2):
        assert len(mans) == 1
        assert len(_json.load(open(mans[0]))) == 1
    # and the table still reads correctly (incl. time travel to the bulk)
    got = {r["conv_id"]: r["text"] for r in tbl.read().collect()}
    assert len(got) == 2000
    assert got["conv_000050"] == "v2" and got["conv_001700"] == "v2"
    v1 = {r["conv_id"]: r["text"] for r in tbl.read(version=1).collect()}
    assert v1["conv_000050"] == "v1:conv_000050"
