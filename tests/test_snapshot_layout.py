"""SnapshotTable v2 layout invariants: one bucket per base file (its
directory names the bucket pmod(hash(conv_id), n)), per-file key stats +
file-level merge pruning, merge-on-read deltas, collision-free commit dirs. Regression coverage for the round-1
advice findings (co-hashed stale-row resurrection; concurrent-commit
clobber)."""

from __future__ import annotations

import datetime as dt
import os
import re

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from caterpillar_spark.plans import input_partitions
from caterpillar_spark.sinks import snapshot_table
from caterpillar_spark.sinks.snapshot_table import (
    SnapshotTable,
    murmur3_hash_bytes,
)
from caterpillar_spark.sinks.table_log import TableLog, footer_range

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
    single-exchange write rests on: with m dividing n, ``repartition(m,
    conv_id)`` then puts bucket b in partition ``b % m``, with no
    inverse-hash routing column."""
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


def test_payload_column_named_like_the_bucket_column_survives(spark, tmp_path):
    """A base write adds a bucket column to partition by; a payload column
    of the same name (in any case) must keep its values, not be
    overwritten by the bucket id."""
    schema = T.StructType(PAYLOAD.fields + [T.StructField("_Bucket", T.StringType())])
    tbl = SnapshotTable(spark, str(tmp_path / "t"), n_buckets=8).create(schema)
    rows = [(i, "I", f"conv_{i:04d}", 0, "user", "x", None, TS, f"p{i}") for i in range(40)]
    events = spark.createDataFrame(
        rows, T.StructType(EVENT_SCHEMA.fields + [schema["_Bucket"]])
    )
    tbl.merge(events, 0, (0, 39))
    got = {r["conv_id"]: r["_Bucket"] for r in tbl.read().collect()}
    assert got == {f"conv_{i:04d}": f"p{i}" for i in range(40)}


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
        for p, s in after_snap.files.items()
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
    # footer-stats pruning: the hi-range file in this bucket (disjoint key
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


def _assert_every_part_file_listed(tbl):
    """Each ``part-*.parquet`` under a version's own ``data/v<v>-*`` dir is
    listed by snapshot v: a write leaves no file its commit does not list.
    ``expire_snapshots`` removes whole dirs, so an unlisted file in a live
    dir would never be collected. Metadata only, no Spark job."""
    log = tbl.log
    for d in os.listdir(log.data_dir):
        v = int(d[1:].split("-")[0])
        listed = log.snapshot(v).files
        for sub, _, names in os.walk(os.path.join(log.data_dir, d)):
            for f in names:
                if f.startswith("part-") and f.endswith(".parquet"):
                    path = os.path.join(sub, f)
                    assert path in listed, f"v{v} does not list {path}"


def _rows(tbl):
    _assert_every_part_file_listed(tbl)
    return sorted((r["conv_id"], r["text"]) for r in tbl.read().collect())


def _file_bytes(paths):
    out = {}
    for p in paths:
        with open(p, "rb") as f:
            out[p] = f.read()
    return out


def test_maintain_folds_the_delta_backlog_into_one_file(spark, tmp_path, monkeypatch):
    """maintain()'s minor tier: five one-key delta files, far below the
    major tier's row fraction, fold into ONE delta file listed by exactly
    the hot bucket. No base file is touched, the ledger and lineage do not
    change, the read is unchanged, and a second maintain() is a no-op."""
    tbl = SnapshotTable(spark, str(tmp_path / "t"), n_buckets=4).create(PAYLOAD)
    convs = [f"conv_{i:06d}" for i in range(200)]
    tbl.merge(_insert_batch(spark, convs, 0), 0, (0, 199))
    hot = "conv_000001"
    hot_b = str(tbl.bucket_for_key(hot))
    monkeypatch.setattr(snapshot_table, "_DELTA_THRESHOLD", -1)  # delta
    for i in range(5):
        tbl.merge(
            _events(spark, [(1000 + i, "U", hot, 0, f"v{i}")]),
            1 + i,
            (1000 + i, 1000 + i),
        )
    snap = tbl.snapshot()
    assert {b for b, fs in snap.deltas.items() if fs} == {hot_b}
    assert len(snap.deltas[hot_b]) == 5
    base = _file_bytes(p for fs in snap.buckets.values() for p in fs)
    state_before = _rows(tbl)

    v = tbl.maintain()
    assert v == snap.version + 1
    snap2 = tbl.snapshot()
    assert snap2.summary["operation"] == "fold"
    assert snap2.summary["write_s"] > 0 and snap2.summary["driver"] is True
    assert snap2.applied == snap.applied and snap2.lineage == []
    (fold,) = snap2.deltas[hot_b]
    assert fold not in snap.deltas[hot_b]
    assert {b: fs for b, fs in snap2.deltas.items() if fs} == {hot_b: [fold]}
    assert snap2.files[fold]["rows"] == 1  # the five updates' winner
    # every base file, hot bucket's included, byte-untouched
    assert snap2.buckets == snap.buckets
    assert _file_bytes(base) == base
    assert _rows(tbl) == state_before
    # one live delta file: nothing due anymore -> no-op
    assert tbl.maintain() == v


def test_maintain_compacts_the_closure_of_a_bucket_past_the_row_fraction(
    spark, tmp_path, monkeypatch
):
    """maintain()'s major tier: delta rows past ``_MAJOR_DELTA_FRAC`` of
    one bucket's base rows compact that bucket plus the class-mate that
    shares a delta file with it (the closure), and only them: the other
    buckets' files stay byte-untouched and the read is unchanged."""
    tbl = SnapshotTable(spark, str(tmp_path / "t"), n_buckets=4).create(PAYLOAD)
    convs = [f"conv_{i:06d}" for i in range(200)]
    tbl.merge(_insert_batch(spark, convs, 0), 0, (0, 199))
    by_bucket = {b: [c for c in convs if tbl.bucket_for_key(c) == b] for b in range(4)}
    hot, mate = 0, 1
    monkeypatch.setattr(snapshot_table, "_DELTA_THRESHOLD", -1)  # delta
    # one key each of hot and mate in one small batch, merged on the
    # driver: ONE delta file, listed by both buckets
    one_file = str(tmp_path / "one_file")
    _events(
        spark,
        [(1000, "U", by_bucket[hot][0], 0, "s"), (1001, "U", by_bucket[mate][0], 0, "s")],
    ).coalesce(1).write.parquet(one_file)
    tbl.merge(spark.read.parquet(one_file), 1, (1000, 1001))
    # then updates of just over the fraction of the hot bucket's keys
    n = int(len(by_bucket[hot]) * snapshot_table._MAJOR_DELTA_FRAC) + 1
    tbl.merge(
        _events(
            spark,
            [(2000 + i, "U", c, 0, "u") for i, c in enumerate(by_bucket[hot][:n])],
        ),
        2,
        (2000, 2000 + n - 1),
    )
    snap = tbl.snapshot()
    shared = set(snap.deltas[str(hot)]) & set(snap.deltas[str(mate)])
    assert len(shared) == 1 and len(snap.deltas[str(hot)]) == 2
    assert {b for b, fs in snap.deltas.items() if fs} == {str(hot), str(mate)}
    cold = _file_bytes(p for b in (2, 3) for p in snap.buckets[str(b)])
    state_before = _rows(tbl)

    v = tbl.maintain()
    assert v == snap.version + 1
    snap2 = tbl.snapshot()
    assert snap2.summary["operation"] == "compact"
    assert snap2.summary["write_s"] > 0
    assert not snap2.has_deltas()
    for b in (hot, mate):
        assert not set(snap2.buckets[str(b)]) & set(snap.buckets[str(b)])
    for b in (2, 3):
        assert snap2.buckets[str(b)] == snap.buckets[str(b)]
    assert _file_bytes(cold) == cold
    assert _rows(tbl) == state_before
    assert tbl.maintain() == v


def test_a_fold_keeps_the_tombstone_that_shadows_a_base_row(spark, tmp_path, monkeypatch):
    """A key whose delete lives only in a delta tombstone stays deleted
    through a fold (the folded file keeps the tombstone, which still
    shadows the key's base row) and through a later compact(); so do an
    update, an insert and a delete-then-reinsert."""
    tbl = SnapshotTable(spark, str(tmp_path / "t"), n_buckets=4).create(PAYLOAD)
    convs = [f"conv_{i:06d}" for i in range(200)]
    tbl.merge(_insert_batch(spark, convs, 0), 0, (0, 199))
    ref = {c: f"v1:{c}" for c in convs}
    monkeypatch.setattr(snapshot_table, "_DELTA_THRESHOLD", -1)  # delta
    batches = [
        ("D", "conv_000003", None),
        ("U", "conv_000004", "v2"),
        ("I", "conv_new", "new"),
        ("D", "conv_000005", None),
        ("I", "conv_000005", "back"),
    ]
    for i, (op, c, text) in enumerate(batches):
        lsn = 1000 + i
        tbl.merge(_events(spark, [(lsn, op, c, 0, text)]), 1 + i, (lsn, lsn))
        if op == "D":
            ref.pop(c)
        else:
            ref[c] = text
    expected = sorted(ref.items())
    assert _rows(tbl) == expected

    tbl.maintain()
    snap = tbl.snapshot()
    assert snap.summary["operation"] == "fold"
    assert snap.summary["write_s"] > 0
    assert len({p for fs in snap.deltas.values() for p in fs}) == 1
    assert _rows(tbl) == expected
    dead = tbl.read(include_deleted=True, conv_id="conv_000003").collect()
    assert [(r["_deleted"], r["_lsn"]) for r in dead] == [(True, 1000)]

    tbl.compact()
    assert not tbl.snapshot().has_deltas()
    assert _rows(tbl) == expected


def _backlog(spark, tmp_path, name, monkeypatch) -> SnapshotTable:
    """A 4-bucket table with a base and a backlog of delta files that
    Spark and the driver wrote: an update, a tombstone over a base row, a
    delete then a reinsert, and files written before and after an
    additive ``lang`` column; every row has a ``ts``."""
    tbl = SnapshotTable(spark, str(tmp_path / name), n_buckets=4).create(PAYLOAD)
    convs = [f"conv_{i:06d}" for i in range(200)]
    monkeypatch.setattr(snapshot_table, "_DELTA_THRESHOLD", float("inf"))  # CoW
    tbl.merge(_insert_batch(spark, convs, 0), 0, (0, 199))
    monkeypatch.setattr(snapshot_table, "_DELTA_THRESHOLD", -1)  # delta
    batches = [
        _events(spark, [(1000, "U", convs[1], 0, "v2"), (1001, "D", convs[2], 0, None)]),
        _one_file(
            _events(spark, [(1002, "D", convs[3], 0, None), (1003, "U", convs[1], 0, "v3")]),
            str(tmp_path / f"{name}-b1"),
        ),
        _events(spark, [(1004, "I", convs[3], 0, "back")]).withColumn("lang", F.lit("en")),
        _one_file(
            _events(spark, [(1005, "I", "conv_new", 0, "new")]).withColumn(
                "lang", F.lit("de")
            ),
            str(tmp_path / f"{name}-b3"),
        ),
    ]
    for i, batch in enumerate(batches):
        tbl.merge(batch, 1 + i)
    assert len(_delta_commits(tbl.snapshot())) >= snapshot_table._FOLD_COMMITS
    return tbl


def _delta_commits(snap) -> set[str]:
    """The data dirs of the live delta files: one per delta commit."""
    return {os.path.dirname(p) for p, e in snap.files.items() if e["delta"]}


def test_the_arrow_reader_equals_the_spark_reader(spark, tmp_path, monkeypatch):
    """``_read_arrow`` returns what ``_read_files(...).toArrow()`` does,
    types included, over base files and delta files written by Spark and
    by the driver, before and after an additive column."""
    tbl = _backlog(spark, tmp_path, "t", monkeypatch)
    snap = tbl.snapshot()
    order = [(c, "ascending") for c in ("conv_id", "turn_idx", "_lsn")]
    for paths in (
        [p for p, e in snap.files.items() if e["delta"]],
        list(snap.files),
    ):
        got = tbl._read_arrow(snap, paths).sort_by(order)
        want = tbl._read_files(snap, paths).toArrow().sort_by(order)
        assert got.schema == want.schema
        assert got.to_pylist() == want.to_pylist()
    assert {r["lang"] for r in got.to_pylist()} == {None, "en", "de"}
    assert any(r["ts"] is not None for r in got.to_pylist())


def test_a_driver_fold_equals_the_spark_fold_and_runs_no_job(
    spark, tmp_path, monkeypatch, spark_jobs
):
    """The same backlog folded on the driver and by Spark (``_DRIVER_BYTES``
    0) reads back the same rows, tombstones included: the driver fold
    writes one file, the Spark fold at most one per residue class. The
    driver fold launches no Spark job, and its summary says ``driver:
    true``."""
    tables = {name: _backlog(spark, tmp_path, name, monkeypatch) for name in ("driver", "spark")}
    with spark_jobs("driver fold") as jobs:
        tables["driver"].maintain()
    assert jobs == []
    monkeypatch.setattr(snapshot_table, "_DRIVER_BYTES", 0)
    tables["spark"].maintain()
    m = spark.sparkContext.defaultParallelism
    for name, tbl in tables.items():
        snap = tbl.snapshot()
        assert snap.summary["operation"] == "fold"
        assert snap.summary.get("driver", False) == (name == "driver")
        files = _delta_listings(snap)
        assert len(_delta_commits(snap)) == 1
        assert len(files) == 1 if name == "driver" else 1 <= len(files) <= m
        _assert_every_part_file_listed(tbl)
    for read in ({}, {"include_deleted": True}):
        d, s = (
            sorted(map(tuple, tables[name].read(**read).collect()))
            for name in ("driver", "spark")
        )
        assert d == s
    assert ("conv_000003", 0, "user", "back") in {r[:4] for r in d}


@pytest.mark.parametrize("fold", ["driver", "spark"])
def test_a_fold_that_crashes_before_its_commit_changes_nothing(
    spark, tmp_path, monkeypatch, fold
):
    """``TableLog.commit_next`` raises once, after the fold wrote its data:
    the snapshot, the read and the ledger are unchanged, the next
    ``maintain()`` folds, and ``expire_snapshots(grace_seconds=0)``
    removes the crashed fold's data dir."""
    tbl = _backlog(spark, tmp_path, "t", monkeypatch)
    if fold == "spark":
        monkeypatch.setattr(snapshot_table, "_DRIVER_BYTES", 0)
    snap, lineage = tbl.snapshot(), tbl.log.lineage()
    rows = sorted(map(tuple, tbl.read(include_deleted=True).collect()))
    dirs = set(os.listdir(tbl.log.data_dir))
    commit_next, boom = TableLog.commit_next, {"armed": True}

    def crashing(self, *args, **kwargs):
        if boom.pop("armed", False):
            raise RuntimeError("simulated crash after the fold's data write")
        return commit_next(self, *args, **kwargs)

    monkeypatch.setattr(TableLog, "commit_next", crashing)
    with pytest.raises(RuntimeError, match="simulated crash"):
        tbl.maintain()
    (orphan,) = set(os.listdir(tbl.log.data_dir)) - dirs
    orphan = os.path.join(tbl.log.data_dir, orphan)
    assert any(f.endswith(".parquet") for _, _, fs in os.walk(orphan) for f in fs)

    fresh = SnapshotTable(spark, tbl.root)
    after = fresh.snapshot()
    assert after.version == snap.version and after.files == snap.files
    assert after.applied == snap.applied and fresh.log.lineage() == lineage
    assert sorted(map(tuple, fresh.read(include_deleted=True).collect())) == rows

    assert fresh.maintain() == snap.version + 1
    summary = fresh.snapshot().summary
    assert summary["operation"] == "fold"
    assert summary.get("driver", False) == (fold == "driver")
    assert orphan in fresh.expire_snapshots(grace_seconds=0)
    assert not os.path.exists(orphan)
    _assert_every_part_file_listed(fresh)
    assert sorted(map(tuple, fresh.read(include_deleted=True).collect())) == rows


def test_one_spark_delta_merge_is_one_commit_to_maintain(spark, tmp_path, monkeypatch):
    """A Spark delta merge into a 4·cores-bucket table writes a file per
    residue class, at least ``_FOLD_COMMITS`` of them, in ONE commit.
    ``maintain()`` counts live delta commits, not files, so it does
    nothing: a fold would only merge those class files into fewer files
    that more buckets list."""
    n = _sharing_buckets(spark)
    tbl = SnapshotTable(spark, str(tmp_path / "t"), n_buckets=n).create(PAYLOAD)
    convs = [f"conv_{i:06d}" for i in range(600)]
    tbl.merge(_insert_batch(spark, convs, 0), 0, (0, 599))
    monkeypatch.setattr(snapshot_table, "_DELTA_THRESHOLD", -1)  # delta
    tbl.merge(_insert_batch(spark, convs[::4], 1000, "v2"), 1, (1000, 1149))
    snap = tbl.snapshot()
    assert "driver" not in snap.summary
    assert len(_delta_listings(snap)) >= snapshot_table._FOLD_COMMITS
    assert len(_delta_commits(snap)) == 1
    assert tbl.maintain() == snap.version


def test_a_spark_fold_writes_one_file_per_residue_class(spark, tmp_path, monkeypatch):
    """With ``_DRIVER_BYTES`` 0, ``_FOLD_COMMITS`` Spark delta merges into
    a 4·cores-bucket table fold on Spark into at most m files, the same
    write as a delta merge: each file holds one residue class and is
    listed by exactly the buckets with rows in it, so a point lookup
    opens at most one delta file. The read is unchanged, and a second
    ``maintain()`` is a no-op."""
    n, m = _sharing_buckets(spark), spark.sparkContext.defaultParallelism
    tbl = SnapshotTable(spark, str(tmp_path / "t"), n_buckets=n).create(PAYLOAD)
    convs = [f"conv_{i:06d}" for i in range(600)]
    tbl.merge(_insert_batch(spark, convs, 0), 0, (0, 599))
    monkeypatch.setattr(snapshot_table, "_DELTA_THRESHOLD", -1)  # delta
    monkeypatch.setattr(snapshot_table, "_DRIVER_BYTES", 0)
    monkeypatch.setattr(snapshot_table, "_MAJOR_DELTA_FRAC", float("inf"))  # no compact
    for i in range(snapshot_table._FOLD_COMMITS):
        lsn = 1000 * (i + 1)
        rows = [(lsn + j, "U", c, 0, f"v{i}") for j, c in enumerate(convs[i::7])]
        rows.append((lsn + len(rows), "D", convs[5 * i + 1], 0, None))
        tbl.merge(_events(spark, rows), 1 + i, (lsn, lsn + len(rows) - 1))
    snap = tbl.snapshot()
    assert len(_delta_commits(snap)) == snapshot_table._FOLD_COMMITS
    state = _state(tbl)

    v = tbl.maintain()
    assert v == snap.version + 1
    folded = tbl.snapshot()
    assert folded.summary["operation"] == "fold" and "driver" not in folded.summary
    assert folded.buckets == snap.buckets
    listed = _delta_listings(folded)
    assert 1 < len(listed) <= m and len(_delta_commits(folded)) == 1
    held = _file_buckets(spark, list(listed), n)
    for p, bs in listed.items():
        assert len({b % m for b in held[_real(p)]}) == 1, p
        assert held[_real(p)] == bs, f"{p} holds {held[_real(p)]}, listed by {bs}"
    assert _state(tbl) == state
    deltas = {_real(p) for p in listed}
    for k in convs[:40:4]:
        looked_up = {_real(f) for f in tbl.read(conv_id=k).inputFiles()}
        assert len(looked_up & deltas) <= 1, k
    assert tbl.maintain() == v


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


def test_commit_metadata_is_o_changed_files(spark, tmp_path):
    """Commit metadata is O(changed files), not O(table files): a
    single-key merge into a 64-bucket table writes a snapshot JSON with no
    file lists plus one manifest with one entry, the file it adds, and its
    byte size stays ~constant as the table grows."""
    import glob
    import json as _json

    tbl = SnapshotTable(spark, str(tmp_path / "t"), n_buckets=64).create(PAYLOAD)
    convs = [f"conv_{i:06d}" for i in range(2000)]
    tbl.merge(_insert_batch(spark, convs, 0), 0, (0, 1999))

    def commit_meta_bytes(version):
        sp = tbl.log.snap_path(version)
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
    # the bulk commit listed all 64 buckets' files; the small ones, one
    assert small1 < bulk_bytes / 8, (small1, bulk_bytes)
    assert small2 < bulk_bytes / 8, (small2, bulk_bytes)
    assert abs(small1 - small2) < 0.5 * max(small1, small2)
    # the snapshot JSON itself carries no file lists
    raw = _json.load(open(tbl.log.snap_path(3)))
    assert not {"buckets", "deltas", "file_stats", "files"} & set(raw)
    assert len(raw["manifests"]) <= 64
    # each small commit's manifest holds one entry: one file of one bucket
    for mans in (mans1, mans2):
        assert len(mans) == 1
        (entry,) = _json.load(open(mans[0])).values()
        assert len(entry["buckets"]) == 1
    # and the table still reads correctly (incl. time travel to the bulk)
    got = {r["conv_id"]: r["text"] for r in tbl.read().collect()}
    assert len(got) == 2000
    assert got["conv_000050"] == "v2" and got["conv_001700"] == "v2"
    v1 = {r["conv_id"]: r["text"] for r in tbl.read(version=1).collect()}
    assert v1["conv_000050"] == "v1:conv_000050"


# --------------------------------------------- residue-class delta files
def _sharing_buckets(spark) -> int:
    """A bucket count that makes delta files shared on any host: four
    buckets per core, so a delta write has n/4 classes of 4 buckets."""
    return 4 * spark.sparkContext.defaultParallelism


def _real(path: str) -> str:
    return os.path.realpath(path.removeprefix("file:"))


def _file_buckets(spark, paths, n) -> dict[str, set[int]]:
    """Real file path -> the buckets its rows fall in (one scan)."""
    rows = (
        spark.read.parquet(*paths)
        .select(
            F.col("_metadata.file_path").alias("f"),
            F.pmod(F.hash("conv_id"), F.lit(n)).alias("b"),
        )
        .distinct()
        .collect()
    )
    out: dict[str, set[int]] = {}
    for r in rows:
        out.setdefault(_real(r["f"]), set()).add(r["b"])
    return out


def _delta_listings(snap) -> dict[str, set[int]]:
    """Delta file -> the buckets that list it."""
    return {p: set(e["buckets"]) for p, e in snap.files.items() if e["delta"]}


def _state(tbl):
    _assert_every_part_file_listed(tbl)
    return sorted((r["conv_id"], r["text"]) for r in tbl.read().collect())


def test_delta_files_hold_one_residue_class(spark, tmp_path, monkeypatch):
    """Base files hold one bucket each; a delta file holds one residue
    class ``b % m`` (m = the session's cores here), and exactly the
    buckets with rows in it list it."""
    n, m = _sharing_buckets(spark), spark.sparkContext.defaultParallelism
    tbl = SnapshotTable(spark, str(tmp_path / "t"), n_buckets=n).create(PAYLOAD)
    assert tbl._write_classes() == m
    convs = [f"conv_{i:06d}" for i in range(600)]
    tbl.merge(_insert_batch(spark, convs, 0), 0, (0, 599))
    monkeypatch.setattr(snapshot_table, "_DELTA_THRESHOLD", -1)  # delta
    tbl.merge(_insert_batch(spark, convs[::4], 1000, "v2"), 1, (1000, 1149))
    tbl.merge(_insert_batch(spark, convs[1::9], 2000, "v3"), 2, (2000, 2066))
    snap = tbl.snapshot()
    base = {p: int(b) for b, ps in snap.buckets.items() for p in ps}
    listed = _delta_listings(snap)
    assert len(listed) <= 2 * m  # at most one file per class and batch
    assert any(len(bs) > 1 for bs in listed.values()), "no delta file shared"
    held = _file_buckets(spark, [*base, *listed], n)
    for p, b in base.items():
        assert held[_real(p)] == {b}, f"base file {p} holds {held[_real(p)]}"
    for p, bs in listed.items():
        assert len({b % m for b in held[_real(p)]}) == 1, p
        assert held[_real(p)] == bs, f"{p} holds {held[_real(p)]}, listed by {bs}"


def test_partial_compaction_of_a_shared_class_resurrects_nothing(
    spark, tmp_path, monkeypatch
):
    """Compacting one bucket whose delta files it shares with class-mates,
    with tombstones dropped, must compact the class-mates too: dropping a
    shared update file from only that bucket would let a full read see
    the update whose tombstone the compaction purged."""
    n = _sharing_buckets(spark)
    tbl = SnapshotTable(spark, str(tmp_path / "t"), n_buckets=n).create(PAYLOAD)
    convs = [f"conv_{i:06d}" for i in range(600)]
    tbl.merge(_insert_batch(spark, convs, 0), 0, (0, 599))
    monkeypatch.setattr(snapshot_table, "_DELTA_THRESHOLD", -1)  # delta
    updated = convs[::2]
    tbl.merge(_insert_batch(spark, updated, 1000, "v2"), 1, (1000, 1299))
    b = tbl.bucket_for_key(updated[0])
    gone = [c for c in updated if tbl.bucket_for_key(c) == b]
    tbl.merge(
        _events(spark, [(2000 + i, "D", c, 0, None) for i, c in enumerate(gone)]),
        2,
        (2000, 2000 + len(gone) - 1),
    )
    snap = tbl.snapshot()
    listed = _delta_listings(snap)
    assert any(len(listed[p]) > 1 for p in snap.deltas[str(b)]), "nothing shared"
    before = _state(tbl)
    assert len(before) == len(convs) - len(gone)

    tbl.compact(buckets=[b], drop_tombstones=True)
    assert _state(tbl) == before
    assert tbl.read(conv_id=gone).count() == 0
    after = tbl.snapshot()
    assert not set(_delta_listings(after)) & set(snap.deltas[str(b)])


def test_a_delta_batch_without_class_0_rows_leaves_no_unlisted_file(
    spark, tmp_path, monkeypatch
):
    """A multi-partition delta batch whose one key is in a class other
    than 0: Spark's task 0 still writes a part file for its empty class.
    No bucket lists that file, so the write deletes it, and its ``.crc``
    checksum, rather than leave them in a live data dir."""
    n, m = _sharing_buckets(spark), spark.sparkContext.defaultParallelism
    tbl = SnapshotTable(spark, str(tmp_path / "t"), n_buckets=n).create(PAYLOAD)
    convs = [f"conv_{i:06d}" for i in range(600)]
    tbl.merge(_insert_batch(spark, convs, 0), 0, (0, 599))
    monkeypatch.setattr(snapshot_table, "_DELTA_THRESHOLD", -1)  # delta
    key = next(c for c in convs if tbl.bucket_for_key(c) % m != 0)
    batch = _insert_batch(spark, [key], 1000, "v2")
    assert input_partitions(batch) == m  # the residue-class path
    assert tbl.merge(batch, 1, (1000, 1000))[0] == 2
    assert list(_delta_listings(tbl.snapshot()).values()) == [{tbl.bucket_for_key(key)}]
    _assert_every_part_file_listed(tbl)
    # nor the Hadoop checksum of the deleted file
    for sub, _, names in os.walk(tbl.log.data_dir):
        for f in names:
            if f.startswith(".part-") and f.endswith(".crc"):
                assert f[1:-4] in names, f"{os.path.join(sub, f)} outlived its file"
    want = {c: f"v1:{c}" for c in convs}
    want[key] = f"v2:{key}"
    assert _state(tbl) == sorted(want.items())


@pytest.mark.parametrize("write", ["delta", "cow", "compact"])
def test_write_runs_one_task_per_class(
    spark, tmp_path, monkeypatch, spark_jobs, write
):
    """The write stage of a delta merge, a copy-on-write merge and a
    compaction runs m tasks, one per residue class, not one per bucket."""
    n, m = _sharing_buckets(spark), spark.sparkContext.defaultParallelism
    tbl = SnapshotTable(spark, str(tmp_path / "t"), n_buckets=n).create(PAYLOAD)
    convs = [f"conv_{i:06d}" for i in range(600)]
    tbl.merge(_insert_batch(spark, convs, 0), 0, (0, 599))
    cow_threshold = float("inf") if write == "cow" else -1
    monkeypatch.setattr(snapshot_table, "_DELTA_THRESHOLD", cow_threshold)
    update = _insert_batch(spark, convs[::3], 1000, "v2")
    if write == "compact":
        tbl.merge(update, 1, (1000, 1199))  # a delta merge to fold in
    with spark_jobs(write) as jobs:
        if write == "compact":
            tbl.compact()
        else:
            tbl.merge(update, 1, (1000, 1199))
    tasks = {s: t for j in jobs for s, t in j.stage_tasks.items()}
    assert tasks[max(tasks)] == m  # the write is the last stage
    snap = tbl.snapshot()
    assert snap.has_deltas() == (write == "delta")
    if write == "delta":
        # a createDataFrame batch spans the session's cores, so it keeps
        # the shuffle into classes: every class has rows, one file each
        assert input_partitions(update) == spark.sparkContext.defaultParallelism
        assert len(_delta_listings(snap)) == m


def test_base_files_hold_one_bucket_when_a_task_writes_several(
    spark, tmp_path, monkeypatch
):
    """With four buckets per core a write task holds several buckets. After
    a copy-on-write merge and after a full compaction, every base file
    holds exactly the bucket that lists it, no write gives a bucket two
    files, and the delta-free table reads back the reference state."""
    n, m = _sharing_buckets(spark), spark.sparkContext.defaultParallelism
    tbl = SnapshotTable(spark, str(tmp_path / "t"), n_buckets=n).create(PAYLOAD)
    convs = [f"conv_{i:06d}" for i in range(600)]
    want = {c: f"v1:{c}" for c in convs}
    tbl.merge(_insert_batch(spark, convs, 0), 0, (0, 599))
    monkeypatch.setattr(snapshot_table, "_DELTA_THRESHOLD", float("inf"))  # CoW
    tbl.merge(_insert_batch(spark, convs[::4], 1000, "v2"), 1, (1000, 1149))
    want.update((c, f"v2:{c}") for c in convs[::4])

    def check():
        snap = tbl.snapshot()
        assert not snap.has_deltas()
        base = {p: int(b) for b, ps in snap.buckets.items() for p in ps}
        held = _file_buckets(spark, list(base), n)
        for p, b in base.items():
            assert held[_real(p)] == {b}, f"base file {p} holds {held[_real(p)]}"
        by_write: dict[str, list[str]] = {}
        for b, ps in snap.buckets.items():
            writes = [os.path.relpath(p, tbl.log.data_dir).split(os.sep)[0] for p in ps]
            assert len(writes) == len(set(writes)), f"bucket {b}: {ps}"
            for w, p in zip(writes, ps):
                by_write.setdefault(w, []).append(p)
        # the newest write's tasks wrote several buckets each
        newest = by_write[max(by_write, key=lambda w: int(w[1:].split("-")[0]))]
        classes = {os.path.basename(p).split("-")[1] for p in newest}
        assert len(classes) <= m < len(newest)
        assert _state(tbl) == sorted(want.items())

    check()
    monkeypatch.setattr(snapshot_table, "_DELTA_THRESHOLD", -1)  # delta
    tbl.merge(_insert_batch(spark, convs[1::9], 2000, "v3"), 2, (2000, 2066))
    want.update((c, f"v3:{c}") for c in convs[1::9])
    tbl.compact()
    check()


# ------------------------------------------------- one-partition batches
def _one_file(df, path: str):
    """``df`` written as one parquet file and read back: a batch that
    Spark reads as one partition, like a one-file streaming trigger."""
    df.coalesce(1).write.parquet(path)
    out = df.sparkSession.read.parquet(path)
    assert input_partitions(out) == 1
    return out


def _merge_one_partition_batch(spark, tmp_path, monkeypatch, spark_jobs):
    """Merge a one-file delta batch over a 600-key table: the batch's
    Spark jobs, its commit summary, and the delta files it writes, each
    listed by exactly the buckets with rows in it."""
    n = _sharing_buckets(spark)
    tbl = SnapshotTable(spark, str(tmp_path / "t"), n_buckets=n).create(PAYLOAD)
    convs = [f"conv_{i:06d}" for i in range(600)]
    tbl.merge(_insert_batch(spark, convs, 0), 0, (0, 599))
    monkeypatch.setattr(snapshot_table, "_DELTA_THRESHOLD", -1)  # delta
    batch = _one_file(_insert_batch(spark, convs[::7], 1000, "v2"), str(tmp_path / "b"))
    with spark_jobs("one-partition") as jobs:
        version, _ = tbl.merge(batch, 1)
    assert version == 2
    listed = _delta_listings(tbl.snapshot())
    assert _file_buckets(spark, list(listed), n) == {
        _real(p): bs for p, bs in listed.items()
    }
    assert set().union(*listed.values()) == {tbl.bucket_for_key(c) for c in convs[::7]}
    want = {c: f"v1:{c}" for c in convs}
    want.update((c, f"v2:{c}") for c in convs[::7])
    assert _state(tbl) == sorted(want.items())
    return jobs, tbl.snapshot().summary, listed


def test_one_partition_batch_merges_in_its_own_task(
    spark, tmp_path, monkeypatch, spark_jobs
):
    """An ad-hoc batch read as one partition, and sized within
    ``_DRIVER_BYTES``, is merged on the driver: its one Spark job is the
    one-task ``toArrow()`` collect, and the driver writes one delta file
    (class 0 of m = 1)."""
    jobs, summary, listed = _merge_one_partition_batch(
        spark, tmp_path, monkeypatch, spark_jobs
    )
    assert [list(j.stage_tasks.values()) for j in jobs] == [[1]]
    assert summary["operation"] == "delta" and summary["driver"] is True
    [buckets] = listed.values()
    assert len(buckets) > 1


def test_one_partition_batch_past_the_driver_bound_writes_residue_class_files(
    spark, tmp_path, monkeypatch, spark_jobs
):
    """A one-partition batch larger than ``_DRIVER_BYTES`` takes the
    Spark path: its stats pass is one job of one task, with no shuffle,
    and its delta write a stage of m tasks, one per residue class, that
    writes one file per class with rows."""
    m = spark.sparkContext.defaultParallelism
    monkeypatch.setattr(snapshot_table, "_DRIVER_BYTES", 0)
    jobs, summary, listed = _merge_one_partition_batch(
        spark, tmp_path, monkeypatch, spark_jobs
    )
    assert list(jobs[0].stage_tasks.values()) == [1]  # the stats pass
    tasks = {s: t for j in jobs[1:] for s, t in j.stage_tasks.items()}
    assert tasks[max(tasks)] == m  # the write is the last stage
    classes = [{b % m for b in bs} for bs in listed.values()]
    assert all(len(c) == 1 for c in classes)
    assert len(listed) == len(set().union(*classes)) > 1
    assert summary["operation"] == "delta" and "driver" not in summary


def test_a_multi_file_trigger_merges_on_the_driver_in_one_job(
    spark, tmp_path, monkeypatch, spark_jobs
):
    """A trigger of 4 segment files, which Spark reads as 4 partitions, is
    merged on the driver when it goes delta: its one Spark job is the
    ``toArrow()`` collect, one task per file."""
    from caterpillar_spark.cdc import apply_changes
    from caterpillar_spark.generator import (
        GeneratorSpec,
        change_events,
        expected_final_state,
        write_changelog_chunks,
    )
    from caterpillar_spark.streaming import stream_changelog

    spec = GeneratorSpec(n_events=800, n_convs=40, turns_per_conv=5, seed=11)
    log = str(tmp_path / "log")
    write_changelog_chunks(spark, spec, log, n_chunks=4)
    tbl = SnapshotTable(spark, str(tmp_path / "t"), n_buckets=8).create(PAYLOAD)
    monkeypatch.setattr(snapshot_table, "_DELTA_THRESHOLD", -1)  # delta
    triggers = []

    def handle(batch, batch_id):
        with spark_jobs("trigger") as jobs:
            apply_changes(batch, tbl, batch_id=int(batch_id))
        triggers.append([list(j.stage_tasks.values()) for j in jobs])

    q = (
        stream_changelog(spark, log, max_files_per_trigger=4)
        .writeStream.foreachBatch(handle)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    assert triggers == [[[4]]]
    summary = tbl.snapshot().summary
    assert summary["operation"] == "delta" and summary["driver"] is True
    _assert_every_part_file_listed(tbl)
    cols = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    want = expected_final_state(change_events(spark, spec)).select(*cols)
    got = tbl.read().select(*cols)
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def test_partial_compaction_after_a_one_file_delta_resurrects_nothing(
    spark, tmp_path, monkeypatch
):
    """A one-file delta is listed by every bucket with rows in the batch.
    Compacting one of them with tombstones dropped compacts them all, so
    the deleted rows stay deleted in a full read and a point lookup."""
    n = _sharing_buckets(spark)
    tbl = SnapshotTable(spark, str(tmp_path / "t"), n_buckets=n).create(PAYLOAD)
    convs = [f"conv_{i:06d}" for i in range(600)]
    tbl.merge(_insert_batch(spark, convs, 0), 0, (0, 599))
    monkeypatch.setattr(snapshot_table, "_DELTA_THRESHOLD", -1)  # delta
    updated = convs[::2]
    tbl.merge(
        _one_file(_insert_batch(spark, updated, 1000, "v2"), str(tmp_path / "u")), 1
    )
    b = tbl.bucket_for_key(updated[0])
    gone = [c for c in updated if tbl.bucket_for_key(c) == b]
    deletes = _events(spark, [(2000 + i, "D", c, 0, None) for i, c in enumerate(gone)])
    tbl.merge(_one_file(deletes, str(tmp_path / "d")), 2)
    snap = tbl.snapshot()
    listed = _delta_listings(snap)
    assert len(listed) == 2 and any(len(bs) > 1 for bs in listed.values())
    before = _state(tbl)
    assert len(before) == len(convs) - len(gone)

    tbl.compact(buckets=[b], drop_tombstones=True)
    assert _state(tbl) == before
    assert tbl.read(conv_id=gone).count() == 0
    assert not set(_delta_listings(tbl.snapshot())) & set(snap.deltas[str(b)])


def test_a_second_file_for_one_bucket_or_class_raises(tmp_path):
    """A write maps each bucket directory (base) or class index (delta)
    to one file; a second one would duplicate its rows, so it raises."""
    d = str(tmp_path)
    names = ["_bucket=3/part-00001-a.parquet", "_bucket=7/part-00001-a.parquet"]
    assert SnapshotTable._files_by_key(d, names) == {
        3: os.path.join(d, names[0]),
        7: os.path.join(d, names[1]),
    }
    with pytest.raises(RuntimeError, match="two files for bucket 3"):
        SnapshotTable._files_by_key(
            d, ["_bucket=3/part-00001-a.parquet", "_bucket=3/part-00001-b.parquet"]
        )
    assert SnapshotTable._files_by_key(d, ["part-00002-a.parquet"]) == {
        2: os.path.join(d, "part-00002-a.parquet")
    }
    with pytest.raises(RuntimeError, match="two files for class 2"):
        SnapshotTable._files_by_key(
            d, ["part-00002-a.parquet", "part-00002-b.parquet"]
        )


def test_engine_reads_list_their_files_without_a_spark_job(
    spark, tmp_path, monkeypatch, spark_jobs
):
    """Spark lists more than 32 read paths in a job of one task per path;
    the engine reads only files its snapshot lists, so neither a read nor
    a compaction of more than 32 files runs that job."""
    tbl = SnapshotTable(spark, str(tmp_path / "t"), n_buckets=32).create(PAYLOAD)
    convs = [f"conv_{i:06d}" for i in range(600)]
    tbl.merge(_insert_batch(spark, convs, 0), 0, (0, 599))
    monkeypatch.setattr(snapshot_table, "_DELTA_THRESHOLD", -1)  # delta
    tbl.merge(_insert_batch(spark, convs[::5], 1000, "v2"), 1, (1000, 1119))
    tbl.merge(_insert_batch(spark, convs[2::5], 2000, "v3"), 2, (2000, 2119))
    _, paths = _table_bytes(tbl)
    assert len(paths) > 32
    with spark_jobs("read") as read_jobs:
        tbl.read()
    assert read_jobs == []
    with spark_jobs("compact") as compact_jobs:
        tbl.compact()
    assert compact_jobs, "the compaction wrote nothing"
    assert not [j for j in compact_jobs if j.description.startswith("Listing")]


def _added_files(tbl) -> list[str]:
    """The files the latest commit added."""
    snap = tbl.snapshot()
    return sorted(set(snap.files) - set(tbl.snapshot(snap.version - 1).files))


def _physical_schema(path: str) -> list[tuple]:
    schema = pq.ParquetFile(path).schema
    return [
        (c.name, c.physical_type, str(c.logical_type), c.max_definition_level)
        for c in (schema.column(i) for i in range(len(schema)))
    ]


def test_a_driver_delta_file_is_stored_as_a_spark_delta_file(
    spark, tmp_path, monkeypatch
):
    """The same one-file batches, merged on the driver (one file) and on
    Spark (``_DRIVER_BYTES`` 0; one file per residue class), write delta
    files with one physical schema (column order, optional columns,
    ``ts`` as INT96) and together the conv_id footer range the log
    prunes by, and both tables read back the same rows, in full and by
    key: also after a batch that adds a payload column and one that
    lacks one. The driver's file stores no ``ARROW:schema`` footer
    entry, which no reader of the table uses."""
    convs = [f"conv_{i:06d}" for i in range(200)]
    tables = {
        name: SnapshotTable(spark, str(tmp_path / name), n_buckets=8).create(PAYLOAD)
        for name in ("driver", "spark")
    }
    for tbl in tables.values():
        tbl.merge(_insert_batch(spark, convs, 0), 0, (0, 199))
    monkeypatch.setattr(snapshot_table, "_DELTA_THRESHOLD", -1)  # delta
    driver_bytes = {"driver": snapshot_table._DRIVER_BYTES, "spark": 0}
    updates = [(2000 + i, "U", c, 0, "v3") for i, c in enumerate(convs[1::7])]
    deletes = [(2100 + i, "D", c, 0, None) for i, c in enumerate(convs[2::9])]
    batches = [
        _insert_batch(spark, convs[::5], 1000, "v2").withColumn("lang", F.lit("en")),
        _events(spark, updates + deletes).drop("tool"),
    ]
    for i, batch in enumerate(batches):
        batch = _one_file(batch, str(tmp_path / f"b{i}"))
        files = {}
        for name, tbl in tables.items():
            monkeypatch.setattr(snapshot_table, "_DRIVER_BYTES", driver_bytes[name])
            tbl.merge(batch, i + 1)
            assert tbl.snapshot().summary.get("driver", False) == (name == "driver")
            files[name] = _added_files(tbl)
            _assert_every_part_file_listed(tbl)
        [driver_file] = files["driver"]
        assert len(files["spark"]) > 1
        schema = _physical_schema(driver_file)
        for path in files["spark"]:
            assert _physical_schema(path) == schema
        assert dict((c, (t, d)) for c, t, _, d in schema)["ts"] == ("INT96", 1)
        assert b"ARROW:schema" not in (pq.ParquetFile(driver_file).metadata.metadata or {})
        key_range = footer_range(driver_file, "conv_id")
        lo, hi, rows = zip(*(footer_range(p, "conv_id") for p in files["spark"]))
        assert key_range == (min(lo), max(hi), sum(rows))
        assert key_range[0] is not None
        for read in ({}, {"conv_id": convs[:30]}):
            d, s = (
                sorted(map(tuple, tables[name].read(**read).collect()))
                for name in ("driver", "spark")
            )
            assert d == s
    assert "lang" in tables["driver"].read().columns


def test_driver_stats_equal_the_spark_stats_pass(spark, tmp_path, monkeypatch):
    """The stats a collected batch gets on the driver equal the Spark
    stats pass's: LSN range, rows per source partition (NULL → -1) and
    per-bucket key ranges."""
    tbl = SnapshotTable(spark, str(tmp_path / "t"), n_buckets=8).create(PAYLOAD)
    rows = [(10 + i, "U", f"conv_{i:03d}", 0, "x") for i in range(40)]
    rows += [(5, "I", "conv_100", 1, "y"), (99, "D", "conv_007", 0, None)]
    sp = (
        F.when(F.col("conv_id") == "conv_100", 9)
        .when(F.col("lsn") % 3 == 0, F.lit(None))
        .otherwise(F.col("lsn") % 2)
    )
    batch = _one_file(
        _events(spark, rows).withColumn("source_partition", sp.cast("int")),
        str(tmp_path / "b"),
    )
    driver = tbl._batch_stats(batch)
    monkeypatch.setattr(snapshot_table, "_DRIVER_BYTES", 0)
    on_spark = tbl._batch_stats(batch)
    assert driver[3] is not None and on_spark[3] is None  # collected or not
    assert driver[:3] == on_spark[:3]
    assert driver[0] == (5, 99)
    assert (9, 1) in driver[1] and (-1, 14) in driver[1]


def test_a_batch_the_driver_cannot_store_keeps_the_spark_write(
    spark, tmp_path, monkeypatch
):
    """A collected delta batch with a column pyarrow would not store as
    Spark does (a TimestampNTZ, which INT96 cannot hold) is reduced and
    written by Spark, and reads back."""
    tbl = SnapshotTable(spark, str(tmp_path / "t"), n_buckets=8).create(PAYLOAD)
    convs = [f"conv_{i:03d}" for i in range(50)]
    tbl.merge(_insert_batch(spark, convs, 0), 0, (0, 49))
    monkeypatch.setattr(snapshot_table, "_DELTA_THRESHOLD", -1)  # delta
    seen = dt.datetime(2024, 1, 2, 3, 4, 5)
    batch = _insert_batch(spark, convs[3:6], 200, "v3").withColumn(
        "seen", F.lit(seen).cast("timestamp_ntz")
    )
    tbl.merge(_one_file(batch, str(tmp_path / "b")), 1)
    assert tbl.snapshot().summary["operation"] == "delta"
    assert "driver" not in tbl.snapshot().summary
    got = {
        (r["conv_id"], r["turn_idx"]): (r["text"], r["seen"])
        for r in tbl.read().collect()
    }
    assert got[convs[1], 0] == (f"v1:{convs[1]}", None)
    assert got[convs[4], 0] == (f"v3:{convs[4]}", seen)
    _assert_every_part_file_listed(tbl)


def test_a_small_batch_the_driver_cannot_store_is_not_collected(
    spark, tmp_path, monkeypatch
):
    """A one-file batch within ``_DRIVER_BYTES`` that holds a TimestampNTZ
    column is not collected only to be written by Spark: its stats pass
    runs on Spark, and ``toArrow()`` is never called."""
    tbl = SnapshotTable(spark, str(tmp_path / "t"), n_buckets=8).create(PAYLOAD)
    seen = dt.datetime(2024, 1, 2, 3, 4, 5)
    batch = _one_file(
        _insert_batch(spark, ["conv_000", "conv_001"], 0).withColumn(
            "seen", F.lit(seen).cast("timestamp_ntz")
        ),
        str(tmp_path / "b"),
    )
    assert snapshot_table.size_estimate(batch) <= snapshot_table._DRIVER_BYTES
    collected, to_arrow = [], type(batch).toArrow

    def counted(df):
        collected.append(df)
        return to_arrow(df)

    monkeypatch.setattr(type(batch), "toArrow", counted)
    assert tbl.merge(batch, 0)[0] == 1
    assert collected == []
    assert "driver" not in tbl.snapshot().summary
    assert sorted((r["conv_id"], r["seen"]) for r in tbl.read().collect()) == [
        ("conv_000", seen), ("conv_001", seen)
    ]


@pytest.mark.parametrize("path", ["cow", "delta", "driver"])
def test_merge_refuses_a_null_conv_id_or_lsn(spark, tmp_path, monkeypatch, path):
    """A change batch with a NULL conv_id or lsn raises before it writes
    anything, on the copy-on-write, Spark delta and driver delta paths.
    The case a merge once took: a NULL-key row stored in an 8-bucket
    table, then a CoW batch of a NULL-key update and a new key of bucket
    ``42 % 8`` below the stored file's key range left two live NULL-key
    rows, since the batch's key range skipped its NULL."""
    tbl = SnapshotTable(spark, str(tmp_path / "t"), n_buckets=8).create(PAYLOAD)
    convs = [f"conv_{i:03d}" for i in range(100)]
    tbl.merge(_insert_batch(spark, convs, 0), 0, (0, 99))
    low = next(f"a{i}" for i in range(1000) if tbl.bucket_for_key(f"a{i}") == 42 % 8)
    monkeypatch.setattr(
        snapshot_table, "_DELTA_THRESHOLD", float("inf") if path == "cow" else -1
    )
    if path == "delta":
        monkeypatch.setattr(snapshot_table, "_DRIVER_BYTES", 0)

    def batch(i, rows):
        df = _events(spark, rows)
        return _one_file(df, str(tmp_path / f"b{i}")) if path == "driver" else df

    before = (tbl.current_version(), _rows(tbl))
    null_key = batch(0, [(100, "I", None, 0, "null v1")])
    both = batch(1, [(101, "U", None, 0, "null v2"), (102, "I", low, 0, "low")])
    null_lsn = batch(2, [(103, "U", convs[1], 0, "v2"), (None, "U", convs[1], 1, "v2")])
    for df, nulls in ((null_key, "0 row(s) with a NULL lsn and 1"),
                      (both, "0 row(s) with a NULL lsn and 1"),
                      (null_lsn, "1 row(s) with a NULL lsn and 0")):
        with pytest.raises(ValueError, match=re.escape(nulls)) as err:
            tbl.merge(df, 1)
        assert "validate_change_events" in str(err.value)
    assert (tbl.current_version(), _rows(tbl)) == before
