"""TableLog, the Spark-free metadata half of SnapshotTable. No JVM: data
files are tiny pyarrow-written parquet files standing in for the Spark
write, and crashes are injected into table_log's own filesystem calls."""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from caterpillar_spark.cdc import segment_footer_stats
from caterpillar_spark.sinks import table_log
from caterpillar_spark.sinks.table_log import Snapshot, TableLog, updated_ledger

N_BUCKETS = 4


class Died(Exception):
    """The simulated process death."""


class _Death:
    """Lets the first ``k`` filesystem calls through; that call and every
    later one raise, as they would in a process killed at that point."""

    def __init__(self, k: int):
        self.k, self.calls = k, 0

    def wrap(self, fn):
        def call(*args, **kwargs):
            self.calls += 1
            if self.calls > self.k:
                raise Died(fn.__name__)
            return fn(*args, **kwargs)

        return call


class _FS:
    """A module as table_log sees it: every callable but the pure path
    helpers is a filesystem call that goes through ``death``."""

    PURE = {"join", "basename", "dirname"}

    def __init__(self, real, death: _Death):
        self._real, self._death = real, death

    def __getattr__(self, name):
        attr = getattr(self._real, name)
        if name == "path":
            return _FS(attr, self._death)
        if callable(attr) and name not in self.PURE:
            return self._death.wrap(attr)
        return attr


@contextlib.contextmanager
def _dying(k: int):
    death = _Death(k)
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(table_log, "os", _FS(os, death))
        mp.setattr(table_log, "shutil", _FS(shutil, death))
        mp.setattr(table_log, "open", death.wrap(open), raising=False)
        yield death


# ------------------------------------------------------------ the scenario
def _write(
    log: TableLog,
    version: int,
    rows: dict[int, list[str]],
    shared: bool = False,
    nested: bool = True,
) -> dict:
    """One parquet file per bucket in a fresh data dir, in a subdirectory
    that names the bucket (the Spark base write; flat without ``nested``),
    or with ``shared`` one flat file for all of them, listed by each bucket
    (a residue-class delta file)."""
    d = log.new_data_dir(version)
    os.makedirs(d)
    if shared:
        p = os.path.join(d, "part-00000-t.c000.snappy.parquet")
        pq.write_table(pa.table({"conv_id": sorted(sum(rows.values(), []))}), p)
        return {str(b): [p] for b in rows}
    out = {}
    for b, keys in rows.items():
        sub = os.path.join(d, f"_bucket={b}") if nested else d
        os.makedirs(sub, exist_ok=True)
        p = os.path.join(sub, f"part-{b:05d}-t.c000.snappy.parquet")
        pq.write_table(pa.table({"conv_id": sorted(keys)}), p)
        out[str(b)] = [p]
    return out


def _added(new: dict, delta: bool) -> dict:
    """``_write``'s result as ``commit_next``'s ``added``: each file with
    the buckets that list it."""
    out: dict[str, tuple[list[int], bool]] = {}
    for b, (p,) in new.items():
        out.setdefault(p, ([], delta))[0].append(int(b))
    return out


def _create(log):
    if not log.exists():
        props = {"n_buckets": N_BUCKETS}
        log.commit(Snapshot(0, '{"fields": []}', properties=props))


def _merge(lo, hi, rows, delta=False, shared=False):
    def step(log):
        snap = log.snapshot()
        applied = updated_ledger(snap.applied, "s", lo, hi)
        if applied is None:
            return  # the retry of a batch that committed
        new = _write(log, snap.version + 1, rows, shared, nested=not delta)
        # a base write replaces each of its buckets' base files
        removed = [] if delta else [p for b in new for p in snap.buckets.get(b, [])]
        log.commit_next(
            snap,
            N_BUCKETS,
            added=_added(new, delta),
            removed=removed,
            applied=applied,
            lineage=[{"batch_id": lo, "rows_applied": sum(map(len, rows.values()))}],
        )

    return step


def _compact(log):
    snap = log.snapshot()
    due = sorted(int(b) for b, ps in snap.deltas.items() if ps)
    if not due:
        return  # the retry of a compaction that committed
    # the rewrite's content only has to be deterministic: the old files'
    # footer key ranges stand in for their rows
    listed = {b: snap.buckets.get(str(b), []) + snap.deltas[str(b)] for b in due}
    rows = {
        b: [snap.files[p][k] for p in ps for k in ("min_key", "max_key")]
        for b, ps in listed.items()
    }
    new = _write(log, snap.version + 1, rows)
    removed = {p for ps in listed.values() for p in ps}
    log.commit_next(snap, N_BUCKETS, added=_added(new, False), removed=removed)


def _fold(log):
    """The minor compaction: the shared delta files become one flat file
    listed by the union of their buckets."""
    snap = log.snapshot()
    folded = sorted(
        p for p, e in snap.files.items() if e["delta"] and len(e["buckets"]) > 1
    )
    if len(folded) < 2:
        return  # the retry of a fold that committed
    union = sorted({b for p in folded for b in snap.files[p]["buckets"]})
    keys = [snap.files[p][k] for p in folded for k in ("min_key", "max_key")]
    rows = dict.fromkeys(union, [])
    rows[union[0]] = keys  # a shared write lists every bucket it is given
    new = _write(log, snap.version + 1, rows, shared=True)
    log.commit_next(snap, N_BUCKETS, added=_added(new, True), removed=folded)


def _expire(log):
    log.expire_snapshots(keep_last=1, grace_seconds=0)


STEPS = [
    _create,
    _merge(0, 9, {0: ["a", "e"], 1: ["b"]}),
    _merge(10, 19, {1: ["c", "f"]}, delta=True),
    _merge(20, 29, {0: ["g"], 2: ["h"]}, delta=True, shared=True),
    _merge(50, 59, {1: ["j"], 3: ["k"]}, delta=True, shared=True),
    _fold,  # bucket 1 keeps its own delta file next to the folded one
    _merge(30, 39, {}),  # an empty batch: ledger only, no bucket touched
    _compact,
    # rewrites one bucket of the compaction's three-bucket manifest: the
    # other two buckets' files must be carried into the new manifest
    _merge(40, 49, {0: ["i"]}),
    _expire,
]


def _state(root: str):
    """What a fresh process sees: None before create, else the snapshot
    with file pointers replaced by their manifest entries (buckets, delta,
    min/max key, rows), after checking that every referenced file and
    manifest exists."""
    log = TableLog(root)
    if not log.exists():
        return None
    snap = log.snapshot()
    manifests = [os.path.join(log.log_dir, "manifests", m) for m in snap.manifests]
    for p in {*manifests, *snap.files}:
        assert os.path.isfile(p), p

    def files(by_bucket):
        return {b: [snap.files[p] for p in ps] for b, ps in by_bucket.items() if ps}

    return (
        snap.version,
        snap.applied,
        snap.lineage,
        snap.properties,
        files(snap.buckets),
        files(snap.deltas),
    )


def _leftovers(root: str) -> tuple[int, int, int, int]:
    """(snapshot JSONs, manifests, tmp files, data dirs) on disk."""

    def ls(*parts):
        path = os.path.join(root, *parts)
        return os.listdir(path) if os.path.isdir(path) else []

    log = ls("_log")
    return (
        sum(f.endswith(".json") for f in log),
        len(ls("_log", "manifests")),
        sum(".tmp-" in f for f in log),
        len(ls("data")),
    )


def _run(root, steps):
    for step in steps:
        step(TableLog(root))  # a fresh handle per step, like a restarted job


def test_crash_matrix_parent_or_child_then_retry_converges(tmp_path):
    """Kill the process at every filesystem call of every step (create,
    a bucket-touching commit, a delta commit, two commits of one delta
    file shared by two buckets, a fold of those two files into one, an
    empty-batch commit, a compaction, a commit that rewrites one bucket
    of the compaction's manifest, and expire;
    base files sit in per-bucket subdirectories): a fresh
    TableLog then loads exactly the parent or the child, and every file
    it references exists. Retrying the step
    then yields the child, and expire leaves exactly what it leaves after
    the uncrashed step."""
    after, clean = [], []
    for i in range(len(STEPS)):
        ref = str(tmp_path / f"ref{i}")
        _run(ref, STEPS[: i + 1])
        after.append(_state(ref))
        _run(ref, [_expire])
        clean.append(_leftovers(ref))
    assert after[-1][0] == 8 and after[-1][1] == {"s": [[0, 59]]}
    assert not after[-1][5]  # compacted: no deltas left
    # the fold lists one file under the union of the two shared files'
    # buckets, next to bucket 1's own delta file; ledger and base stay
    shared, folded = after[4], after[5]
    fold = folded[5]["0"]
    assert fold[0]["rows"] == 4
    assert folded[5] == {"0": fold, "1": [shared[5]["1"][0], *fold], "2": fold, "3": fold}
    assert folded[1:5] == (shared[1], [], shared[3], shared[4])
    # buckets 1-3 survive the rewrite of bucket 0 with their files
    compacted, rewritten = after[-3][4], after[-1][4]
    assert sorted(rewritten) == sorted(compacted) == ["0", "1", "2", "3"]
    assert rewritten["0"] != compacted["0"]
    assert {**rewritten, "0": None} == {**compacted, "0": None}
    assert clean[-1] == (9, 7, 0, 2)

    root, crash_points = str(tmp_path / "t"), 0
    for i, step in enumerate(STEPS):
        parent = after[i - 1] if i else None
        prefix = str(tmp_path / f"prefix{i}")
        _run(root, STEPS[:i])
        if os.path.exists(root):
            os.rename(root, prefix)
        for k in range(1000):
            if os.path.exists(prefix):
                shutil.copytree(prefix, root)
            with _dying(k) as death:
                try:
                    step(TableLog(root))
                except Died:
                    pass
            if death.calls <= k:
                break  # the step finished before call k: every point done
            crash_points += 1
            assert _state(root) in (parent, after[i]), (i, k)
            _run(root, [step])
            assert _state(root) == after[i], (i, k)
            _run(root, [_expire])
            assert _leftovers(root) == clean[i], (i, k)
            os.rename(root, str(tmp_path / f"done{i}-{k}"))  # cheaper than rmtree
        os.rename(root, str(tmp_path / f"done{i}"))
    assert crash_points > 50


def test_commit_next_reads_a_shared_file_footer_once(tmp_path, monkeypatch):
    """A delta file listed under two buckets gets one footer read and one
    entry in ``files``."""
    root = str(tmp_path / "t")
    _run(root, [_create])
    log = TableLog(root)
    snap = log.snapshot()
    new = _write(log, 1, {0: ["a", "c"], 2: ["b"]}, shared=True)
    (path,) = set(new["0"])
    calls = []
    real = table_log.footer_range
    monkeypatch.setattr(
        table_log, "footer_range", lambda p, col: calls.append(p) or real(p, col)
    )
    log.commit_next(snap, N_BUCKETS, added=_added(new, True))
    assert calls == [path]
    snap = TableLog(root).snapshot()
    assert snap.deltas == {"0": [path], "2": [path]}
    assert snap.files == {
        path: {
            "buckets": [0, 2], "delta": True, "min_key": "a", "max_key": "c",
            "rows": 3,
        }
    }


def test_commit_next_stores_the_summary_plus_its_footer_seconds(tmp_path):
    """A commit's summary is the one it is given plus ``footer_s`` and
    ``manifest_s``; a commit given none gets only those two, never its
    parent's keys."""
    root = str(tmp_path / "t")
    _run(root, [_create])
    log = TableLog(root)
    new = _write(log, 1, {0: ["a"], 1: ["b"]})
    phases = {"stats_pass_s": 0.5, "plan_s": 0.25, "write_s": 1.0}
    log.commit_next(log.snapshot(), N_BUCKETS, added=_added(new, False), summary=phases)
    summary = TableLog(root).snapshot().summary
    assert set(summary) == {*phases, "footer_s", "manifest_s"}
    assert {k: summary[k] for k in phases} == phases
    assert min(summary["footer_s"], summary["manifest_s"]) >= 0
    log.commit_next(log.snapshot(), N_BUCKETS)
    assert list(TableLog(root).snapshot().summary) == ["footer_s", "manifest_s"]


def _tree(root: str) -> dict[str, bytes]:
    """Every file under ``root`` -> its bytes."""
    out = {}
    for d, _, names in os.walk(root):
        for name in names:
            with open(os.path.join(d, name), "rb") as f:
                out[os.path.relpath(os.path.join(d, name), root)] = f.read()
    return out


def test_commit_next_refuses_a_change_set_its_parent_contradicts(tmp_path):
    """Removing a file the parent does not list, or adding one it already
    lists, raises ValueError before anything is written: ``_log/``, its
    manifests and ``data/`` stay byte-identical."""
    root = str(tmp_path / "t")
    _run(root, STEPS[:4])
    log = TableLog(root)
    snap = log.snapshot()
    listed = next(p for p, e in snap.files.items() if e["delta"])
    (unlisted,) = _write(log, snap.version + 1, {3: ["z"]})["3"]
    before = _tree(root)
    for change, what in (
        ({"removed": [unlisted]}, "removes files it does not list"),
        ({"added": {listed: ([0], True)}}, "adds files it already lists"),
        ({"added": {unlisted: ([3], False)}, "removed": [listed, unlisted]},
         "removes files it does not list"),
    ):
        with pytest.raises(ValueError, match=what):
            log.commit_next(snap, N_BUCKETS, **change)
    assert _tree(root) == before
    assert {"_log", "data"} <= {p.split(os.sep)[0] for p in before}


def test_a_committing_handles_snapshot_equals_a_fresh_load(tmp_path):
    """After every step, the snapshot the committing handle loads (through
    its manifest cache, having built the parent's views) equals a fresh
    handle's in ``files``, ``manifests`` and the derived ``buckets`` and
    ``deltas`` views."""
    root = str(tmp_path / "t")
    log = TableLog(root)
    for i, step in enumerate(STEPS):
        if log.exists():
            parent = log.snapshot()
            ids = {*parent.buckets, *parent.deltas}  # cached before the step
            assert ids <= {str(b) for b in range(N_BUCKETS)}
        step(log)
        ours, fresh = log.snapshot(), TableLog(root).snapshot()
        for name in ("files", "manifests", "buckets", "deltas"):
            assert getattr(ours, name) == getattr(fresh, name), (i, name)


def test_snapshot_written_without_a_summary_loads_with_an_empty_summary(tmp_path):
    """Snapshots written before summaries existed have no ``summary`` key:
    they load as ``{}``, and their child commits normally."""
    root = str(tmp_path / "t")
    _run(root, STEPS[:2])
    log = TableLog(root)
    path = log.snap_path(1)
    with open(path) as f:
        data = json.load(f)
    assert "footer_s" in data.pop("summary")
    with open(path, "w") as f:
        json.dump(data, f)
    assert TableLog(root).snapshot().summary == {}
    _run(root, [STEPS[2]])
    assert list(TableLog(root).snapshot().summary) == ["footer_s", "manifest_s"]


def test_a_delta_commit_writes_metadata_for_its_own_files_only(tmp_path):
    """A commit that adds one delta file listed by two buckets writes a
    one-entry manifest of the same size at 32 and at 512 buckets, after
    one or after four earlier delta commits, each listed by 7/8 of the
    buckets. Its snapshot JSON holds no file lists: less its summary, it
    is its parent's plus one manifest name, and one name per live manifest
    is all it grows by."""

    def commit(log, n, rows, delta):
        snap = log.snapshot()
        new = _write(log, snap.version + 1, rows, shared=delta)
        log.commit_next(snap, n, added=_added(new, delta))

    def meta(log, v):
        with open(log.snap_path(v)) as f:
            raw = json.load(f)
        assert not {"buckets", "deltas", "file_stats", "files"} & set(raw)
        return raw, len(json.dumps({**raw, "summary": {}}))

    out = {}
    for n in (32, 512):
        for earlier in (1, 4):
            log = TableLog(str(tmp_path / f"t{n}-{earlier}"))
            _create(log)
            commit(log, n, {b: [f"k{b:04d}"] for b in range(n)}, delta=False)
            for i in range(earlier):
                commit(log, n, {b: [f"d{i}-{b:04d}"] for b in range(n) if b % 8}, True)
            commit(log, n, {0: ["x"], 1: ["y"]}, delta=True)
            v = log.current_version()
            (raw, size), (parent, parent_size) = meta(log, v), meta(log, v - 1)
            (name,) = set(raw["manifests"]) - set(parent["manifests"])
            assert raw["manifests"] == parent["manifests"] + [name]
            assert size == parent_size + len(name) + 4  # ', "<name>"'
            with open(os.path.join(log.log_dir, "manifests", name), "rb") as f:
                manifest = f.read()
            ((entry),) = json.loads(manifest).values()
            assert entry == {
                "buckets": [0, 1], "delta": True, "min_key": "x", "max_key": "y",
                "rows": 2,
            }
            out[n, earlier] = manifest, size, len(raw["manifests"]), len(name) + 4
    assert len({len(m) for m, *_ in out.values()}) == 1  # tokens differ
    for n in (32, 512):
        (_, size1, live1, per), (_, size4, live4, _) = out[n, 1], out[n, 4]
        assert (live1, live4) == (out[32, 1][2], out[32, 4][2])
        assert size4 - size1 <= (live4 - live1) * per


def test_the_manifest_cache_holds_the_current_snapshots_manifests(tmp_path):
    """One handle commits 20 times (delta merges, a compaction every
    fifth): its cache then holds exactly the current snapshot's manifests,
    not one per commit."""
    root = str(tmp_path / "t")
    log = TableLog(root)
    _create(log)
    for i in range(20):
        if i % 5 == 4:
            _compact(log)
        else:
            _merge(10 * i, 10 * i + 9, {i % N_BUCKETS: [f"k{i:02d}"]}, delta=True)(log)
    assert log.current_version() == 20
    assert set(log._manifest_cache) == set(log._snapshot_raw().manifests)
    assert len(os.listdir(os.path.join(log.log_dir, "manifests"))) == 20


def test_a_copied_table_reads_its_files_under_the_new_root(tmp_path):
    """Manifests list root-relative paths: a table copied to a new root
    loads with every view under that root, every listed file there, and
    commits on."""
    old, new = str(tmp_path / "old"), str(tmp_path / "new")
    _run(old, STEPS[:4])
    state = _state(old)
    shutil.copytree(old, new)
    shutil.rmtree(old)
    snap = TableLog(new).snapshot()
    listed = {p for ps in (*snap.buckets.values(), *snap.deltas.values()) for p in ps}
    assert listed == set(snap.files) and len(listed) == 4
    assert all(p.startswith(os.path.join(new, "data", "")) for p in listed)
    assert _state(new) == state  # _state checks every listed file exists
    _run(new, STEPS[4:8])  # through the compaction
    assert not TableLog(new).snapshot().has_deltas()


def test_expire_keeps_a_shared_file_while_any_bucket_lists_it(tmp_path):
    """A delta file shared by two buckets survives expire while a kept
    snapshot lists it, its creator's expired or not, and its data dir goes
    once a commit removes it."""
    root = str(tmp_path / "t")
    _run(root, [_create, _merge(0, 9, {0: ["a"], 2: ["b"]}, delta=True, shared=True)])
    log = TableLog(root)
    (path,) = log.snapshot().deltas["0"]
    log.commit_next(log.snapshot(), N_BUCKETS)  # lists it, adds nothing
    assert log.expire_snapshots(keep_last=1, grace_seconds=0) == []
    assert os.path.isfile(path)
    log.commit_next(log.snapshot(), N_BUCKETS, removed=[path])
    assert log.expire_snapshots(keep_last=1, grace_seconds=0) == [
        os.path.dirname(path)
    ]


def test_expire_keeps_a_data_dir_whose_live_files_sit_below_it(tmp_path):
    """A base write puts each bucket's file in a subdirectory of its data
    dir. Expire must count that data dir as live, not only the
    subdirectory, or it deletes the current snapshot's files."""
    root = str(tmp_path / "t")
    _run(root, [_create, _merge(0, 9, {0: ["a"], 3: ["b"]})])
    log = TableLog(root)
    files = [p for ps in log.snapshot().buckets.values() for p in ps]
    (data_dir,) = {os.path.dirname(os.path.dirname(p)) for p in files}
    assert os.path.dirname(data_dir) == log.data_dir  # nested one level
    assert log.expire_snapshots(keep_last=1, grace_seconds=0) == []
    assert os.path.isdir(data_dir)
    assert all(os.path.isfile(p) for p in files)


def test_expire_keep_last_below_one_raises_before_deleting(tmp_path):
    """keep_last=0 used to leave no version to keep, so every data dir,
    the live snapshot's included, was collected."""
    root = str(tmp_path / "t")
    _run(root, STEPS[:3])
    before = sorted(os.walk(root))
    for keep_last in (0, -1):
        with pytest.raises(ValueError, match="keep_last"):
            TableLog(root).expire_snapshots(keep_last=keep_last, grace_seconds=0)
    assert sorted(os.walk(root)) == before


def test_killed_create_does_not_brick_the_path(tmp_path):
    """A create killed after writing its tmp file (before the link) leaves
    ``_log/`` non-empty but no snapshot: the table does not exist, create
    succeeds, and expire collects the leftover."""
    root = str(tmp_path / "t")
    with _dying(3):  # exists(), makedirs(_log), open(tmp); dead at the link
        with pytest.raises(Died):
            _create(TableLog(root))
    log = TableLog(root)
    (tmp,) = os.listdir(log.log_dir)
    assert ".tmp-" in tmp and not log.exists()
    with pytest.raises(FileNotFoundError):
        log.current_version()
    _create(log)
    assert log.current_version() == 0
    assert log.expire_snapshots(keep_last=1, grace_seconds=0) == [
        os.path.join(log.log_dir, tmp)
    ]


def test_segment_footer_stats_over_the_shared_footer_reader(tmp_path):
    seg = tmp_path / "seg"
    seg.mkdir()
    pq.write_table(pa.table({"lsn": [5, 9, 7]}), seg / "a.parquet")
    pq.write_table(pa.table({"lsn": [12, 10]}), seg / "b.parquet")
    pq.write_table(pa.table({"lsn": pa.array([], pa.int64())}), seg / "c.parquet")
    (seg / "_SUCCESS").write_text("")
    assert segment_footer_stats(str(seg)) == (5, 12, 5)  # empty file skipped
    pq.write_table(pa.table({"other": [1]}), seg / "d.parquet")
    assert segment_footer_stats(str(seg)) is None  # rows without lsn stats


def test_table_log_imports_without_pyspark():
    """The metadata layer stays Spark-free: it imports with pyspark
    blocked, and pulls in no Spark module."""
    code = (
        "import sys; sys.modules['pyspark'] = None\n"
        "import caterpillar_spark.sinks.table_log\n"
        "assert not [m for m in sys.modules if m.startswith('pyspark.')]\n"
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=root,
        capture_output=True,
        text=True,
        timeout=60,
    )
    assert out.returncode == 0, out.stderr
