"""TableLog — the metadata of a :class:`SnapshotTable`: snapshot JSONs,
manifests of data files, the offset ledger, lineage and per-file footer stats.
Pure filesystem + pyarrow footer reads; no Spark, so every rule here is
testable without a JVM (Iceberg draws the same line between
``TableOperations``/``TableMetadata`` and its data writers).

Layout::

    <root>/
      _log/v000000000042.json                    # snapshot; commit = atomic create
      _log/manifests/m000000000042-<token>.json  # files -> buckets + stats
      data/v42-<token>/<col>=<b>/part-*.parquet  # base: ONE bucket per
                                                 # file, b named by its dir
      data/v42-<token>/part-*.parquet            # delta: one residue class
                                                 # b % m, listed by each of
                                                 # its buckets (the sink)

Concurrency/atomicity model (single writer, many readers — same posture as
a Structured Streaming ``foreachBatch`` sink): a commit writes its data
files into a fresh uniquely-named directory first, then its manifest, then
creates the next snapshot JSON with ``os.link`` (fails if the version
already exists → optimistic-concurrency conflict, like Iceberg's commit
protocol). A losing or crashed writer leaves only unreferenced data dirs,
manifests and ``.tmp-`` files (garbage-collected by
:meth:`TableLog.expire_snapshots`), never a torn table.

Exactly-once (the upgrade over the reference's store-offset-after-delivery
at-least-once rule, ``internal/pkg/pipeline/task/kafka/kafka.go:288-293,
404-406``): each snapshot embeds the cumulative set of applied
``(stream_id, [lo, hi])`` LSN ranges (:func:`updated_ledger`). A merge
whose range is already applied is a no-op; offsets and data commit in ONE
atomic link, so replay from any checkpoint converges.

Metadata is O(changed files) per commit: the snapshot JSON holds the
ledger, lineage, the commit's summary (its operation and phase seconds,
like Iceberg's snapshot summary) and the names of its manifests
(Iceberg's manifest list), immutable lists of data files. A commit is the
files it adds and removes (Iceberg's ``RewriteFiles``/``RowDelta``): it
keeps each parent manifest that lost no file and writes one for the rest,
so a delta commit lists only its new files, but a copy-on-write commit
re-lists the survivors of each manifest it takes a file from.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from collections.abc import Collection, Iterable
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field, fields, replace
from functools import cached_property


@dataclass
class Snapshot:
    version: int
    schema_json: str  # Spark StructType json of PAYLOAD columns (no sys cols)
    # stream_id -> merged [lo, hi] ranges (the offset ledger)
    applied: dict[str, list[list[int]]] = field(default_factory=dict)
    lineage: list[dict] = field(default_factory=list)  # this commit's entries
    # this commit's "operation" (create, cow, delta, empty, compact or
    # fold; the table sink's) and phase seconds: a merge's stats_pass_s
    # and plan_s, every data-writing commit's write_s (0 for an empty
    # merge), commit_next's footer_s and commit's manifest_s; {} in
    # snapshots written before summaries existed
    summary: dict[str, float | str] = field(default_factory=dict)
    parent: int | None = None
    properties: dict = field(default_factory=dict)
    # names of the IMMUTABLE manifests in _log/manifests/ listing this
    # snapshot's files, each {path relative to the table root: {"buckets":
    # [sorted ids], "delta": bool, "min_key", "max_key", "rows"}}
    manifests: list[str] = field(default_factory=list)
    # absolute path -> its manifest entry, the snapshot's one file state:
    # filled from the manifests at load, never stored in the JSON. A delta
    # file is merge-on-read (LWW by _lsn at read); None min/max (Iceberg-
    # manifest-style column stats) => unknown => always a merge candidate
    files: dict[str, dict] = field(default_factory=dict)

    def _view(self, delta: bool) -> dict[str, list[str]]:
        out: dict[str, list[str]] = {}
        for p, e in self.files.items():
            if e["delta"] == delta:
                for b in e["buckets"]:
                    out.setdefault(str(b), []).append(p)
        return out

    @cached_property
    def buckets(self) -> dict[str, list[str]]:  # bucket id -> base files
        return self._view(False)

    @cached_property
    def deltas(self) -> dict[str, list[str]]:  # bucket id -> delta files
        return self._view(True)

    def has_deltas(self) -> bool:
        return any(e["delta"] for e in self.files.values())

    def overlaps(self, path: str, klo: str | None, khi: str | None) -> bool:
        """Conservative key-range overlap of one file with ``[klo, khi]``:
        unknown stats or an unknown range => candidate."""
        st = self.files.get(path) or {}
        if None in (st.get("min_key"), st.get("max_key"), klo, khi):
            return True
        return st["max_key"] >= klo and st["min_key"] <= khi


def updated_ledger(
    applied: dict[str, list[list[int]]], stream_id: str, lo: int, hi: int
) -> dict[str, list[list[int]]] | None:
    """The ledger after applying ``[lo, hi]`` on ``stream_id``, or None
    when the range is already covered (=> the merge is a no-op). Returns
    a new dict holding EVERY stream's ranges: a commit replaces the whole
    ledger, so dropping other streams would erase their applied ranges."""
    prior = applied.get(stream_id, [])
    if any(a <= lo and hi <= b for a, b in prior):
        return None
    ranges: list[list[int]] = []
    for a, b in sorted(prior + [[lo, hi]]):
        if ranges and a <= ranges[-1][1] + 1:
            ranges[-1][1] = max(ranges[-1][1], b)
        else:
            ranges.append([a, b])
    return {**applied, stream_id: ranges}


def footer_range(path: str, column: str) -> tuple:
    """``(min, max, rows)`` of ``column`` in one parquet file, from its
    footer — driver-side, no Spark job. min/max are None when the column
    is missing, any row group lacks stats, or there are no row groups.
    Parquet string stats may be truncated-but-safe (min is a ≤-prefix, max
    is padded up), which key-range pruning tolerates."""
    import pyarrow.parquet as pq

    with pq.ParquetFile(path) as pf:
        md = pf.metadata
    names, stats = md.schema.names, []
    if column in names:
        i = names.index(column)
        stats = [md.row_group(g).column(i).statistics for g in range(md.num_row_groups)]
    if not stats or any(st is None or not st.has_min_max for st in stats):
        return None, None, md.num_rows

    def plain(v):
        return v.decode() if isinstance(v, bytes) else v

    return (
        min(plain(st.min) for st in stats),
        max(plain(st.max) for st in stats),
        md.num_rows,
    )


def _listdir(path: str) -> list[str]:
    try:
        return os.listdir(path)
    except FileNotFoundError:
        return []


class TableLog:
    """The metadata half of a table rooted at ``root``: load, commit and
    expire snapshots."""

    def __init__(self, root: str):
        self._root = os.path.join(root, "")  # every data path starts with it
        self.log_dir = os.path.join(root, "_log")
        self.data_dir = os.path.join(root, "data")
        self._manifest_dir = os.path.join(self.log_dir, "manifests")
        # name -> entries of the manifests of the snapshot last loaded or
        # committed: a replay loop commits from the one it loaded
        self._manifest_cache: dict[str, dict] = {}

    # ---------------------------------------------------------------- load
    def snap_path(self, version: int) -> str:
        return os.path.join(self.log_dir, f"v{version:012d}.json")

    def _versions(self) -> list[int]:
        return [
            int(f[1:13])
            for f in _listdir(self.log_dir)
            if f.startswith("v") and f.endswith(".json")
        ]

    def exists(self) -> bool:
        """A committed snapshot exists. Leftovers of a create killed before
        its link (``_log/`` with only ``.tmp-`` files) do not count."""
        return bool(self._versions())

    def current_version(self) -> int:
        versions = self._versions()
        if not versions:
            raise FileNotFoundError(f"no snapshots in {self.log_dir}")
        return max(versions)

    def _snapshot_raw(self, version: int | None = None) -> Snapshot:
        """Snapshot WITHOUT its files — applied ledger, lineage and
        properties are inline; callers that never touch file pointers
        (ledger checks, the lineage walk) skip the manifest reads."""
        v = self.current_version() if version is None else version
        with open(self.snap_path(v)) as f:
            data = json.load(f)
        # every writer of this engine lists files in manifests of files;
        # inline pointers and per-bucket manifests ({manifest: [bucket
        # ids]}) come from retired writers, and a commit on top of them
        # would silently drop the files they list
        if isinstance(data.get("manifests"), dict) or any(
            any(data.get(k, {}).values()) for k in ("buckets", "deltas")
        ):
            raise RuntimeError(
                f"{self.snap_path(v)} uses a retired format (inline bucket "
                "pointers or per-bucket manifests); rewrite the table: read its "
                "data via spark.read.parquet + LWW-reduce, then create() + "
                "merge() into a new table"
            )
        for k in ("buckets", "deltas", "file_stats"):  # retired, list no file
            data.pop(k, None)
        return Snapshot(**data)

    def snapshot(self, version: int | None = None) -> Snapshot:
        """Snapshot ``version`` (default: the latest) with its ``files``
        read from its manifests."""
        snap = self._snapshot_raw(version)
        # bounded by the table: keep this snapshot's manifests only
        self._manifest_cache = {n: self._load_manifest(n) for n in snap.manifests}
        snap.files = {
            self._root + rel: e
            for m in self._manifest_cache.values()
            for rel, e in m.items()
        }
        return snap

    def _load_manifest(self, name: str) -> dict:
        """The entries of one manifest, read once per handle."""
        m = self._manifest_cache.get(name)
        if m is None:
            with open(os.path.join(self._manifest_dir, name)) as f:
                m = self._manifest_cache[name] = json.load(f)
        return m

    def applied_ranges(self, stream_id: str = "default") -> list[list[int]]:
        # ledger is inline in the snapshot JSON — zero manifest reads
        return self._snapshot_raw().applied.get(stream_id, [])

    def lineage(self) -> list[dict]:
        """Every commit's lineage entries, newest snapshot first: a walk of
        the parent chain (lineage is inline, so no manifest reads)."""
        rows: list[dict] = []
        v = self.current_version()
        while v is not None:
            snap = self._snapshot_raw(v)
            rows.extend(snap.lineage)
            v = snap.parent
        return rows

    # -------------------------------------------------------------- commit
    def new_data_dir(self, version: int) -> str:
        # collision-free per writer: a losing concurrent committer's files
        # can never overwrite the winner's (ADVICE r1: version-keyed dirs +
        # mode("overwrite") let the loser destroy committed data). The token
        # names a directory only — table DATA stays deterministic.
        return os.path.join(self.data_dir, f"v{version}-{uuid.uuid4().hex[:12]}")

    def commit(
        self, snap: Snapshot, parent: Snapshot | None = None,
        added: Iterable[str] = (), removed: Collection[str] = (),
    ) -> None:
        """Atomic create of the snapshot file ``snap.version`` (raises
        FileExistsError on conflict). ``snap.files`` are ``parent``'s less
        ``removed`` plus ``added``: the commit keeps each of ``parent``'s
        manifests that lost no file and writes ONE new manifest of the
        added files plus the survivors of each manifest that lost one, or
        none when that set is empty. The seconds of that manifest work are
        stored as the summary's ``manifest_s``; the snapshot JSON write and
        the link cannot time themselves, since that JSON holds the summary."""
        t = time.perf_counter()
        cut = len(self._root)
        gone = {p[cut:] for p in removed}
        entries: dict[str, dict] = {}  # path relative to the root -> entry
        kept = []
        for name in parent.manifests if parent is not None else ():
            m = self._load_manifest(name)
            if any(rel in m for rel in gone):
                entries.update((rel, e) for rel, e in m.items() if rel not in gone)
            else:
                kept.append(name)
        entries.update((p[cut:], snap.files[p]) for p in added)
        if entries:
            os.makedirs(self._manifest_dir, exist_ok=True)
            name = f"m{snap.version:012d}-{uuid.uuid4().hex[:12]}.json"
            with open(os.path.join(self._manifest_dir, name), "w") as f:
                json.dump(entries, f)
            self._manifest_cache[name] = entries
            kept.append(name)
        snap.manifests = kept
        snap.summary = {**snap.summary, "manifest_s": round(time.perf_counter() - t, 4)}
        payload = {f.name: getattr(snap, f.name) for f in fields(snap)}
        del payload["files"]
        os.makedirs(self.log_dir, exist_ok=True)
        final = self.snap_path(snap.version)
        tmp = final + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(payload, f)
        try:
            os.link(tmp, final)  # atomic; raises FileExistsError on conflict
        finally:
            os.unlink(tmp)
        self._manifest_cache = {n: self._load_manifest(n) for n in kept}

    def commit_next(
        self, parent: Snapshot, n_buckets: int,
        added: dict[str, tuple[list[int], bool]] | None = None,
        removed: Iterable[str] = (), **changes,
    ) -> int:
        """Commit the successor of ``parent`` and return its version. Its
        files are the parent's less ``removed`` plus ``added`` (path ->
        (the bucket ids that list it, whether it is a delta file)); only
        the added files' ``conv_id`` footer ranges are read, timed as the
        summary's ``footer_s``, and :meth:`commit` adds ``manifest_s``.
        Raises ValueError before writing anything if ``removed`` names a
        file the parent does not list, or ``added`` one it does.
        ``changes`` replace the parent's ``applied``/``schema_json``/
        ``lineage``/``summary`` (lineage and summary default to empty: a
        child never inherits its parent's). ``n_buckets`` is (re-)stamped
        into the properties."""
        added, removed = added or {}, set(removed)
        for bad, what in (
            (removed - parent.files.keys(), "removes files it does not list"),
            (added.keys() & parent.files.keys(), "adds files it already lists"),
        ):
            if bad:
                raise ValueError(f"commit on v{parent.version} {what}: {sorted(bad)}")
        t = time.perf_counter()
        files = {p: e for p, e in parent.files.items() if p not in removed}
        if added:
            # footer reads are I/O-bound and independent, and they sit on
            # the per-batch serial path (Amdahl): read them concurrently
            with ThreadPoolExecutor(min(16, len(added))) as ex:
                ranges = list(ex.map(lambda p: footer_range(p, "conv_id"), added))
            for (p, (bs, delta)), (lo, hi, n) in zip(added.items(), ranges):
                files[p] = dict(
                    buckets=sorted(bs), delta=delta, min_key=lo, max_key=hi, rows=n
                )
        child = replace(
            parent,
            **{"lineage": [], "summary": {}, **changes},
            version=parent.version + 1,
            parent=parent.version,
            properties={**parent.properties, "n_buckets": n_buckets},
            files=files,
        )
        child.summary = {
            **child.summary, "footer_s": round(time.perf_counter() - t, 4)
        }
        self.commit(child, parent, added, removed)
        return child.version

    # -------------------------------------------------------------- expire
    def expire_snapshots(
        self, keep_last: int = 10, grace_seconds: float = 3600.0
    ) -> list[str]:
        """Delete data directories referenced ONLY by snapshots older than
        the ``keep_last`` most recent (Iceberg's expire_snapshots), plus
        what losing/crashed writers left: unreferenced manifests and
        ``_log/*.tmp-*`` files. Nothing younger than ``grace_seconds`` goes:
        an IN-FLIGHT commit has written its data dir and manifest before
        the link (Iceberg's remove_orphan_files ``older_than``; ADVICE r2).
        Snapshot JSONs and their manifests stay (the lineage history);
        older snapshots' data becomes unreadable. Returns removed paths."""
        if keep_last < 1:
            raise ValueError(
                f"keep_last={keep_last}: the current snapshot must be kept "
                "(keep_last >= 1), or its data would be deleted"
            )
        current = self.current_version()
        live: set[str] = set()  # top-level entries of data/ that hold a live file
        for v in range(max(0, current - keep_last + 1), current + 1):
            for name in self._snapshot_raw(v).manifests:
                entries = self._load_manifest(name)  # keys: data/<dir>/...
                live.update(rel.split(os.sep)[1] for rel in entries)
        referenced: set[str] = set()  # manifest FILENAMES (stored form)
        garbage = []
        for f in os.listdir(self.log_dir):
            full = os.path.join(self.log_dir, f)
            if f.startswith("v") and f.endswith(".json"):
                with open(full) as fh:
                    referenced.update(json.load(fh).get("manifests", []))
            elif ".tmp-" in f:
                garbage.append(full)
        garbage += [
            os.path.join(self._manifest_dir, f)
            for f in _listdir(self._manifest_dir)
            if f not in referenced
        ]
        garbage += [
            os.path.join(self.data_dir, d)
            for d in _listdir(self.data_dir)
            if d not in live
        ]
        removed = []
        now = time.time()
        for full in sorted(garbage):
            try:
                if now - os.path.getmtime(full) < grace_seconds:
                    continue  # possibly an in-flight writer's
                if os.path.isdir(full):
                    shutil.rmtree(full)
                else:
                    os.unlink(full)
            except OSError:
                continue  # vanished concurrently
            removed.append(full)
        return removed
