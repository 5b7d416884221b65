"""SnapshotTable — a transactional, bucketed, snapshot-versioned lake table
on plain parquet. The sandbox stand-in for Iceberg with the same contract:
atomic commits, exactly-once via an offset ledger stored IN the snapshot,
additive schema evolution, tombstoned deletes, per-partition lineage.

Layout::

    <root>/
      _log/v000000000042.json        # snapshot files; commit = atomic create
      data/v42-<token>/part-*.parquet  # ONE bucket per file (see routing);
                                       # dir token is collision-free so a
                                       # losing concurrent writer can never
                                       # clobber a winner's committed files

File/bucket invariant: every data file contains rows of EXACTLY ONE bucket.
A row's bucket is ``pmod(hash(conv_id), n)`` — Spark's own HashPartitioning
placement — so one ``repartition(n, conv_id)`` puts bucket b in shuffle
partition b, and the part-file index of a flat parquet write IS the bucket
id. The bucket -> files pointers are exact (no co-hashed stale rows can
survive a bucket rewrite), no per-row bucket column is stored, and the same
exchange satisfies the LWW aggregate's clustering.

Concurrency/atomicity model (single writer, many readers — same posture as
a Structured Streaming ``foreachBatch`` sink): a commit writes its data
files into a fresh uniquely-named directory first, then creates the next
snapshot JSON with ``os.link`` (fails if the version already exists →
optimistic-concurrency conflict, like Iceberg's commit protocol). A losing
or crashed writer leaves only an unreferenced data dir (garbage-collected
by ``expire_snapshots``), never a torn table.

Exactly-once (the upgrade over the reference's store-offset-after-delivery
at-least-once rule, ``internal/pkg/pipeline/task/kafka/kafka.go:288-293,
404-406``): each snapshot embeds the cumulative set of applied
``(stream_id, [lo, hi])`` LSN ranges. A merge whose range is already
applied is a no-op; offsets and data commit in ONE atomic rename, so replay
from any checkpoint converges. Deletes are tombstones (``_deleted``), which
makes row-level merge idempotent and commutative under re-delivery as well;
``compact()`` physically drops tombstones later.

Scale design (100 TB / 1000 executors):
- rows hash-bucketed by ``conv_id`` into ``n_buckets`` fixed buckets;
- the snapshot records per-file key ranges (min/max ``conv_id``, the same
  stats Iceberg keeps in manifests), so a merge prunes at FILE granularity:
  only files whose key range overlaps the incoming batch are rewritten —
  a 1%-of-keyspace batch rewrites ~1% of table bytes, not the whole table;
- small batches take the **merge-on-read delta path**: the reduced batch is
  appended as per-bucket delta files (write volume O(batch), zero table
  rewrite); the read path LWW-reduces base∪delta by ``_lsn`` and
  ``compact()`` folds deltas back into unique-key base files — Iceberg's
  MoR/compaction lifecycle;
- the merge reduction is a hash aggregate (``max_by``) with map-side
  partial combine — hot conv_ids pre-reduce before the shuffle;
- the snapshot JSON holds the ledger, lineage and an O(n_buckets) map of
  bucket → immutable manifest file; the manifests hold the bucket→file
  pointers + per-file stats (Iceberg's manifest/manifest-list pattern).
  A commit therefore writes O(touched buckets) metadata — at 10^6 files a
  one-bucket merge serializes kilobytes, not a multi-hundred-MB stats map
  on the serial path. No directory listing on the read path; manifest
  contents cache per handle (they are immutable once referenced).
"""

from __future__ import annotations

import json
import os
import time
import uuid
from dataclasses import asdict, dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from caterpillar_spark.operators.dedup import last_writer_wins
from caterpillar_spark.session import cached_columns

KEY = ["conv_id", "turn_idx"]
_SYS_COLS = ["_lsn", "_deleted"]
# merge's lineage observe() counts source partitions 0.._OBSERVE_PARTITIONS-1
# individually and the rest as partition -1
_OBSERVE_PARTITIONS = 32
# "auto" merges take the delta path when the files a CoW would rewrite hold
# more than this many times the incoming rows (BENCH/delta_ab.json)
_DELTA_THRESHOLD = 3.0


@dataclass
class LineageEntry:
    """One per (batch, source_partition): FIXTURES.md §3 manifest row."""

    batch_id: int
    offset_start: int
    offset_end: int
    snapshot_id: int
    rows_applied: int
    partition: int
    t_start: float
    t_end: float


@dataclass
class Snapshot:
    version: int
    schema_json: str  # Spark StructType json of PAYLOAD columns (no sys cols)
    buckets: dict[str, list[str]]  # bucket id (str) -> base data file paths
    applied: dict[str, list[list[int]]]  # stream_id -> merged [lo, hi] ranges
    lineage: list[dict] = field(default_factory=list)  # this commit's entries
    parent: int | None = None
    properties: dict = field(default_factory=dict)
    # bucket id (str) -> merge-on-read delta file paths (LWW by _lsn at read)
    deltas: dict[str, list[str]] = field(default_factory=dict)
    # file path -> {"min_key", "max_key", "rows"} (Iceberg-manifest-style
    # column stats; None min/max => unknown => file always a merge candidate)
    file_stats: dict[str, dict] = field(default_factory=dict)
    # bucket id (str) -> path of the IMMUTABLE manifest file holding that
    # bucket's complete current state (base + delta files + their stats) —
    # Iceberg's manifest-list pattern. The buckets/deltas/file_stats fields
    # above are resolved VIEWS (populated at load, empty in the serialized
    # JSON): a commit re-manifests only the buckets it touched, so commit
    # metadata is O(touched buckets), not O(table files).
    # SERIALIZED inverted and relative — {manifest filename: [bucket ids]} —
    # so shared pointers dedupe (the map costs bytes per MANIFEST, not per
    # bucket-path pair) and the table stays relocatable.
    manifests: dict[str, str] = field(default_factory=dict)

    def has_deltas(self) -> bool:
        return any(self.deltas.values())


MANIFEST_SCHEMA = T.StructType(
    [
        T.StructField("batch_id", T.LongType()),
        T.StructField("offset_start", T.LongType()),
        T.StructField("offset_end", T.LongType()),
        T.StructField("snapshot_id", T.LongType()),
        T.StructField("rows_applied", T.LongType()),
        T.StructField("partition", T.IntegerType()),
        T.StructField("t_start", T.DoubleType()),
        T.StructField("t_end", T.DoubleType()),
    ]
)


def _merge_ranges(ranges: list[list[int]]) -> list[list[int]]:
    out: list[list[int]] = []
    for lo, hi in sorted(ranges):
        if out and lo <= out[-1][1] + 1:
            out[-1][1] = max(out[-1][1], hi)
        else:
            out.append([lo, hi])
    return out


def _covered(ranges: list[list[int]], lo: int, hi: int) -> bool:
    return any(a <= lo and hi <= b for a, b in ranges)


# --------------------------------------------------------------- routing
def murmur3_hash_bytes(data: bytes, seed: int = 42) -> int:
    """Spark's ``F.hash`` of one string column: Murmur3_x86_32 over the
    UTF-8 bytes with Spark's byte-wise tail handling (each trailing byte
    past the last aligned word is sign-extended and mixed as its own
    round — org.apache.spark.unsafe.hash.Murmur3_x86_32.hashUnsafeBytes,
    NOT the standard murmur3 tail). Signed-int32 result; seed 42. Pure
    Python so bucket routing for point lookups needs ZERO Spark jobs —
    the driver-side twin of the ``pmod(hash(conv_id), n_buckets)`` bucket
    expression; JVM parity is pinned by a test."""
    mask = 0xFFFFFFFF
    h1 = seed & mask
    n = len(data)
    aligned = n - n % 4
    for i in range(0, aligned, 4):
        k1 = int.from_bytes(data[i : i + 4], "little")
        k1 = k1 * 0xCC9E2D51 & mask
        k1 = ((k1 << 15) | (k1 >> 17)) & mask
        k1 = k1 * 0x1B873593 & mask
        h1 ^= k1
        h1 = ((h1 << 13) | (h1 >> 19)) & mask
        h1 = (h1 * 5 + 0xE6546B64) & mask
    for i in range(aligned, n):
        b = data[i]
        k1 = ((b - 256 if b > 127 else b) & mask) * 0xCC9E2D51 & mask
        k1 = ((k1 << 15) | (k1 >> 17)) & mask
        k1 = k1 * 0x1B873593 & mask
        h1 ^= k1
        h1 = ((h1 << 13) | (h1 >> 19)) & mask
        h1 = (h1 * 5 + 0xE6546B64) & mask
    h1 ^= n
    h1 ^= h1 >> 16
    h1 = h1 * 0x85EBCA6B & mask
    h1 ^= h1 >> 13
    h1 = h1 * 0xC2B2AE35 & mask
    h1 ^= h1 >> 16
    return h1 - (1 << 32) if h1 >= (1 << 31) else h1


def _overlaps(stats: dict | None, klo: str | None, khi: str | None) -> bool:
    """Conservative key-range overlap: unknown stats => candidate."""
    if not stats or stats.get("min_key") is None or stats.get("max_key") is None:
        return True
    if klo is None or khi is None:
        return True
    return stats["max_key"] >= klo and stats["min_key"] <= khi


class SnapshotTable:
    def __init__(self, spark: SparkSession, root: str, n_buckets: int = 64):
        self.spark = spark
        self.root = root
        self.n_buckets = n_buckets
        self._log_dir = os.path.join(root, "_log")
        # manifest files are immutable once a snapshot references them, so
        # their parsed contents cache per instance: after the first load, a
        # replay loop re-reads only the manifests its last commit created
        self._manifest_cache: dict[str, dict] = {}
        if self.exists():
            # adopt the stored n_buckets NOW: callers build bucket
            # expressions (apply_changes' stats pass) before their first
            # snapshot() load, and a mismatched count mis-buckets them
            try:
                self.snapshot()
            except (RuntimeError, FileNotFoundError, json.JSONDecodeError):
                # inline-pointer snapshot / crashed-create leftovers (a _log
                # dir with no loadable v*.json) / corrupt latest snapshot: defer —
                # the first actual use re-raises, and create/repair flows
                # stay able to construct the object (ADVICE r3)
                pass

    # ------------------------------------------------------------- log io
    def _snap_path(self, v: int) -> str:
        return os.path.join(self._log_dir, f"v{v:012d}.json")

    def exists(self) -> bool:
        return os.path.isdir(self._log_dir) and bool(os.listdir(self._log_dir))

    def current_version(self) -> int:
        versions = [
            int(f[1:13])
            for f in os.listdir(self._log_dir)
            if f.endswith(".json") and f.startswith("v")
        ]
        if not versions:
            raise FileNotFoundError(f"no snapshots in {self._log_dir}")
        return max(versions)

    def _snapshot_raw(self, version: int | None = None) -> Snapshot:
        """Snapshot WITHOUT manifest resolution — applied ledger, lineage
        and properties are inline; callers that never touch file pointers
        (ledger checks, the lineage walk) skip the manifest reads."""
        v = self.current_version() if version is None else version
        with open(self._snap_path(v)) as f:
            data = json.load(f)
        # every writer of this engine keeps bucket pointers in manifests;
        # inline ones come from a retired writer, and committing on top of
        # them would silently drop every bucket the commit does not touch
        if any(data.get("buckets", {}).values()) or any(
            data.get("deltas", {}).values()
        ):
            raise RuntimeError(
                f"{self._snap_path(v)} stores inline bucket pointers (a "
                "retired snapshot format); rewrite the table: read its data "
                "via spark.read.parquet + LWW-reduce, then create() + merge() "
                "into a new table"
            )
        stored_manifests = data.get("manifests") or {}
        data["manifests"] = {}
        snap = Snapshot(**data)
        mdir = os.path.join(self._log_dir, "manifests")
        for fname, blist in stored_manifests.items():
            full = os.path.join(mdir, fname)
            for b in blist:
                snap.manifests[str(b)] = full
        # the STORED bucket count is authoritative (ADVICE r2): an instance
        # opened with a mismatched n_buckets would silently under-read
        # (read() iterates range(self.n_buckets)) or mis-bucket merges.
        stored_n = snap.properties.get("n_buckets")
        if stored_n is not None:
            self.n_buckets = int(stored_n)
        return snap

    def snapshot(self, version: int | None = None) -> Snapshot:
        snap = self._snapshot_raw(version)
        if snap.manifests:
            buckets: dict[str, list[str]] = {}
            deltas: dict[str, list[str]] = {}
            stats: dict[str, dict] = {}
            for bs, mpath in snap.manifests.items():
                e = self._load_manifest(mpath)[bs]
                if e["base"]:
                    buckets[bs] = list(e["base"])
                if e["deltas"]:
                    deltas[bs] = list(e["deltas"])
                stats.update(e["file_stats"])
            snap.buckets, snap.deltas, snap.file_stats = buckets, deltas, stats
        return snap

    def _load_manifest(self, path: str) -> dict:
        m = self._manifest_cache.get(path)
        if m is None:
            with open(path) as f:
                m = json.load(f)
            self._manifest_cache[path] = m
        return m

    def _shard_metadata(self, snap: Snapshot, touched) -> None:
        """Write ONE immutable manifest file carrying the complete state
        (base + delta files + per-file stats) of every bucket this commit
        touched; point ``snap.manifests`` at it for those buckets and at
        the parent's manifests for the rest. A merge into 1 of 10^6 files'
        worth of buckets serializes kilobytes, not the whole file_stats map
        (VERDICT r2 what's-wrong #1 — the O(table-files)-per-commit Amdahl
        term)."""
        new_manifests = dict(snap.manifests)
        entries: dict[str, dict] = {}
        for b in sorted({int(b) for b in touched}):
            bs = str(b)
            base = snap.buckets.get(bs, [])
            delt = snap.deltas.get(bs, [])
            if not base and not delt:
                new_manifests.pop(bs, None)  # bucket emptied out
                continue
            entries[bs] = {
                "base": base,
                "deltas": delt,
                "file_stats": {
                    p: snap.file_stats[p]
                    for p in base + delt
                    if p in snap.file_stats
                },
            }
        if entries:
            mdir = os.path.join(self._log_dir, "manifests")
            os.makedirs(mdir, exist_ok=True)
            mpath = os.path.join(
                mdir, f"m{snap.version:012d}-{uuid.uuid4().hex[:12]}.json"
            )
            with open(mpath, "w") as f:
                json.dump(entries, f)
            self._manifest_cache[mpath] = entries
            for bs in entries:
                new_manifests[bs] = mpath
        snap.manifests = new_manifests

    def _commit(self, snap: Snapshot, touched) -> None:
        """Atomic create of the next snapshot file (fails on conflict).
        ``touched`` = bucket ids whose state this commit changed: their
        pointers+stats are sharded into an immutable manifest file and the
        snapshot JSON stores only the O(n_buckets) manifest map."""
        os.makedirs(self._log_dir, exist_ok=True)
        self._shard_metadata(snap, touched)
        # resolved views live in the manifests; don't double-store
        payload = {**asdict(snap), "buckets": {}, "deltas": {}, "file_stats": {}}
        inv: dict[str, list[int]] = {}
        for bs, mpath in snap.manifests.items():
            inv.setdefault(os.path.basename(mpath), []).append(int(bs))
        payload["manifests"] = {k: sorted(v) for k, v in inv.items()}
        final = self._snap_path(snap.version)
        tmp = final + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(payload, f)
        try:
            os.link(tmp, final)  # atomic; raises FileExistsError on conflict
        finally:
            os.unlink(tmp)

    def _commit_next(
        self,
        snap: Snapshot,
        buckets: dict[str, list[str]],
        deltas: dict[str, list[str]],
        applied: dict[str, list[list[int]]],
        lineage: list[dict],
        schema_json: str,
        touched,
    ) -> int:
        """Commit the successor of ``snap`` with the given file pointers and
        return its version. ``file_stats`` keeps the parent's entries for
        files still referenced and reads parquet footers for the new ones;
        the bucket count is (re-)stamped into the properties."""
        referenced = [p for ps in (*buckets.values(), *deltas.values()) for p in ps]
        file_stats = {p: snap.file_stats[p] for p in referenced if p in snap.file_stats}
        file_stats.update(
            self._collect_file_stats([p for p in referenced if p not in file_stats])
        )
        version = snap.version + 1
        self._commit(
            Snapshot(
                version=version,
                schema_json=schema_json,
                buckets=buckets,
                applied=applied,
                lineage=lineage,
                parent=snap.version,
                properties={**snap.properties, "n_buckets": self.n_buckets},
                deltas=deltas,
                file_stats=file_stats,
                manifests=snap.manifests,
            ),
            touched,
        )
        return version

    def _new_data_dir(self, version: int) -> str:
        # collision-free per writer: a losing concurrent committer's files
        # can never overwrite the winner's (ADVICE r1: version-keyed dirs +
        # mode("overwrite") let the loser destroy committed data). The token
        # names a directory only — table DATA stays deterministic.
        return os.path.join(self.root, "data", f"v{version}-{uuid.uuid4().hex[:12]}")

    # ------------------------------------------------------------- create
    def create(self, payload_schema: T.StructType) -> "SnapshotTable":
        if self.exists():
            raise FileExistsError(f"table already exists at {self.root}")
        snap = Snapshot(
            version=0,
            schema_json=payload_schema.json(),
            buckets={},
            applied={},
            parent=None,
            properties={"n_buckets": self.n_buckets},
        )
        self._commit(snap, touched=())
        return self

    # -------------------------------------------------------------- reads
    def payload_schema(self, snap: Snapshot | None = None) -> T.StructType:
        snap = snap or self.snapshot()
        return T.StructType.fromJson(json.loads(snap.schema_json))

    def _stored_schema(self, snap: Snapshot) -> T.StructType:
        s = self.payload_schema(snap)
        return T.StructType(
            list(s.fields)
            + [
                T.StructField("_lsn", T.LongType()),
                T.StructField("_deleted", T.BooleanType()),
            ]
        )

    def _read_files(self, snap: Snapshot, paths: list[str]) -> DataFrame:
        """Raw stored rows (incl. tombstones + sys cols) of the given files.

        An explicit read schema makes additive evolution free: files written
        before a column existed return null for it — no rewrite — and
        columns the schema no longer names (the bucket column ``_b`` older
        writers stored) are skipped. No bucket
        filter is needed: every file holds exactly one bucket (routing
        invariant), so the path list IS the bucket pruning.
        """
        schema = self._stored_schema(snap)
        if not paths:
            return self.spark.createDataFrame([], schema)
        return self.spark.read.schema(schema).parquet(*sorted(set(paths)))

    def _bucket_paths(self, snap: Snapshot, bucket_ids: list[int]) -> list[str]:
        return [
            p
            for b in bucket_ids
            for p in snap.buckets.get(str(b), []) + snap.deltas.get(str(b), [])
        ]

    def bucket_for_key(self, conv_id: str) -> int:
        """Bucket id of one conv_id — the same ``pmod(hash(conv_id),
        n_buckets)`` the writer routes by, computed driver-side with zero
        Spark jobs (:func:`murmur3_hash_bytes` is the JVM-parity twin).

        STRING keys only: Spark's ``hash`` of a non-string column
        hashes its native binary encoding, not the decimal string — so
        this inverse (and the pruning built on it) is gated on the
        table's conv_id field being StringType (see :meth:`read`)."""
        return murmur3_hash_bytes(str(conv_id).encode()) % self.n_buckets

    def _pruned_key_paths(
        self, snap: Snapshot, conv_ids: list[str]
    ) -> tuple[list[str], bool]:
        """(file paths a conv_id-equality read must scan, whether any are
        delta files). Two pruning levels, both metadata-only: bucket
        routing (each file holds exactly ONE bucket — part index ==
        bucket id invariant) then per-file conv_id min/max from
        file_stats — the read-side twin of merge's CoW pruning. At 10^6
        files this turns "fetch one conversation" from a full-table scan
        into reading a handful of files."""
        buckets = sorted({self.bucket_for_key(k) for k in conv_ids})
        klo, khi = min(conv_ids), max(conv_ids)
        base = [
            p
            for b in buckets
            for p in snap.buckets.get(str(b), [])
            if _overlaps(snap.file_stats.get(p), klo, khi)
        ]
        deltas = [
            p
            for b in buckets
            for p in snap.deltas.get(str(b), [])
            if _overlaps(snap.file_stats.get(p), klo, khi)
        ]
        return base + deltas, bool(deltas)

    def read(
        self,
        include_deleted: bool = False,
        version: int | None = None,
        conv_id: str | list[str] | None = None,
    ) -> DataFrame:
        """Table state (live rows, payload columns only). ``version`` time-
        travels to an older snapshot — every snapshot's file set is
        immutable, so historical reads are free (same as Iceberg's
        ``VERSION AS OF``). If the snapshot carries merge-on-read deltas,
        the read LWW-reduces base∪delta by ``_lsn`` (one hash agg); a
        delta-free snapshot is key-unique by construction and reads with
        zero reduction.

        ``conv_id`` (one key or a list) is the point-lookup fast path:
        the scan is pruned to the keys' buckets and, within them, to the
        files whose conv_id min/max stats overlap — metadata-only, zero
        Spark jobs before the read itself — then filtered to exactly
        those keys (the equality predicate also pushes into the parquet
        row-group scan). The LWW reduction runs only when the PRUNED file
        set actually contains deltas, so a point lookup on a compacted
        region of a delta-carrying table still skips the aggregate."""
        snap = self.snapshot(version)
        if conv_id is not None:
            orig_keys = list(
                conv_id if isinstance(conv_id, (list, tuple, set)) else [conv_id]
            )
            # stringified keys feed only the hash/range PRUNING path; the
            # equality filter uses the caller's untouched values so a
            # non-string key column never relies on an implicit cast of a
            # str() repr (ANSI throws on non-castable, '7.0' may not
            # round-trip a float key — ADVICE r5)
            keys = [str(k) for k in orig_keys]
            if not keys:
                return self.spark.createDataFrame(
                    [], self.payload_schema(snap)
                    if not include_deleted else self._stored_schema(snap)
                )
            key_field = next(
                f for f in self.payload_schema(snap).fields if f.name == "conv_id"
            )
            if isinstance(key_field.dataType, T.StringType):
                paths, any_deltas = self._pruned_key_paths(snap, keys)
                orig_keys = keys  # string column: compare str() forms
            else:
                # non-string key: the driver-side murmur3 twin hashes
                # the STRING bytes, which diverges from the writer's
                # native-typed routing — pruning would scan the wrong
                # bucket and silently return nothing. Fall back to the
                # full bucket set; the equality filter below still pushes
                # into the parquet scan.
                paths = self._bucket_paths(snap, list(range(self.n_buckets)))
                any_deltas = snap.has_deltas()
            df = self._read_files(snap, paths).filter(
                F.col("conv_id") == F.lit(orig_keys[0])
                if len(orig_keys) == 1
                else F.col("conv_id").isin(orig_keys)
            )
        else:
            any_deltas = snap.has_deltas()
            df = self._read_files(
                snap, self._bucket_paths(snap, list(range(self.n_buckets)))
            )
        if any_deltas:
            df = last_writer_wins(df, KEY, "_lsn")
        if not include_deleted:
            df = df.filter(~F.col("_deleted"))
        return df.drop(*_SYS_COLS) if not include_deleted else df

    def manifest(self) -> DataFrame:
        """All lineage entries across the snapshot history (FIXTURES.md §3)."""
        rows = []
        v = self.current_version()
        while v is not None:
            snap = self._snapshot_raw(v)  # lineage is inline; skip manifests
            rows.extend(snap.lineage)
            v = snap.parent
        return self.spark.createDataFrame(
            [tuple(r[f.name] for f in MANIFEST_SCHEMA.fields) for r in rows],
            MANIFEST_SCHEMA,
        )

    def applied_ranges(self, stream_id: str = "default") -> list[list[int]]:
        # ledger is inline in the snapshot JSON — zero manifest reads
        return self._snapshot_raw().applied.get(stream_id, [])

    # -------------------------------------------------------------- write
    def bucket_expr(self) -> F.Column:
        """Bucket id = ``pmod(hash(conv_id), n_buckets)`` — exactly Spark's
        own HashPartitioning placement for ``repartition(n_buckets,
        conv_id)``. That identity is the r7 merge-path optimization: one
        explicit repartition on conv_id IS the bucket routing (partition
        index == bucket id, no inverse-hash column) AND satisfies the LWW
        aggregation's (conv_id, turn_idx) clustering requirement, so the
        merge reduce+route runs on a single exchange of the payload."""
        return F.pmod(F.hash(F.col("conv_id")), F.lit(self.n_buckets)).cast("int")

    def _partition_by_bucket(self, df: DataFrame) -> DataFrame:
        """Shuffle ``df`` so partition index == bucket id (see
        :meth:`bucket_expr`). AQE never coalesces an explicit
        ``repartition(n, col)`` (REPARTITION_BY_NUM), so the mapping
        holds, and a following groupBy on (conv_id, ...) reuses this
        exchange instead of adding its own."""
        return df.repartition(self.n_buckets, F.col("conv_id"))

    @staticmethod
    def _write_bucketed(df: DataFrame, data_dir: str) -> dict[int, list[str]]:
        """Flat parquet write of ``df``, which must already be partitioned
        by :meth:`_partition_by_bucket` (the LWW reducer's output, whose
        aggregation preserved that exchange): shuffle partition b ==
        bucket b, so file index == bucket id. Returns bucket -> new file
        paths."""
        df.write.mode("errorifexists").parquet(data_dir)
        out: dict[int, list[str]] = {}
        for f in os.listdir(data_dir):
            if f.startswith("part-") and f.endswith(".parquet"):
                out.setdefault(int(f.split("-")[1]), []).append(
                    os.path.join(data_dir, f)
                )
        return out

    @staticmethod
    def _collect_file_stats(paths: list[str]) -> dict[str, dict]:
        """Per-file (min_key, max_key, rows) from parquet footers —
        driver-side, the stats an Iceberg writer would put in the
        manifest. Footer reads are I/O-bound and independent, so they run
        in a thread pool: this sits on the per-batch SERIAL path, and
        serial driver time is what caps scaling efficiency (Amdahl).
        Parquet string stats may be truncated-but-safe (min is a ≤-prefix,
        max is padded up), which pruning tolerates."""
        from concurrent.futures import ThreadPoolExecutor

        import pyarrow.parquet as pq

        def one(p: str) -> tuple[str, dict]:
            md = pq.ParquetFile(p).metadata
            idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
            lo = hi = None
            ok = "conv_id" in idx
            if ok:
                for rg in range(md.num_row_groups):
                    st = md.row_group(rg).column(idx["conv_id"]).statistics
                    if st is None or not st.has_min_max:
                        ok = False
                        break
                    mn = st.min.decode() if isinstance(st.min, bytes) else st.min
                    mx = st.max.decode() if isinstance(st.max, bytes) else st.max
                    lo = mn if lo is None else min(lo, mn)
                    hi = hi if hi is not None and hi >= mx else mx
            return p, {
                "min_key": lo if ok else None,
                "max_key": hi if ok else None,
                "rows": md.num_rows,
            }

        if not paths:
            return {}
        with ThreadPoolExecutor(min(16, len(paths))) as ex:
            return dict(ex.map(one, paths))

    # -------------------------------------------------------------- merge
    def merge(
        self,
        updates: DataFrame,
        batch_id: int,
        offset_range: tuple[int, int],
        partition_counts: list[tuple[int, int]] | None = None,
        stream_id: str = "default",
        t_start: float | None = None,
        incoming_stats: dict[int, tuple[str | None, str | None, int]] | None = None,
        mode: str = "auto",
    ) -> tuple[int, list[tuple[int, int]] | None]:
        """Apply a change batch (``op`` + ``lsn`` columns; multiple events
        per key allowed — the merge aggregation is itself the last-writer-
        wins reducer). Returns ``(version, observed_counts)``: version -1
        if the offset range was already applied (idempotent no-op).

        ``incoming_stats``: per-bucket ``(min_key, max_key, rows)`` of the
        batch if the caller already computed them (``apply_changes`` folds
        this into its lineage stats pass); otherwise one narrow scan here.

        ``mode``:
        - ``"cow"``   — copy-on-write: rewrite only the files whose key
          range overlaps the batch (file-level pruning via the snapshot's
          per-file stats); untouched files stay referenced.
        - ``"delta"`` — merge-on-read: append the batch (reduced to one row
          per key) as per-bucket delta files; zero table rewrite. Reads
          LWW-reduce until ``compact()``.
        - ``"auto"``  — delta when the files a CoW would rewrite hold more
          than ``_DELTA_THRESHOLD``× the incoming rows, else CoW. Small
          incremental batches against a big table take the O(batch) path;
          bulk loads take the pre-reduced path.

        Either path commits data + offset ledger + lineage in ONE atomic
        snapshot create. If ``partition_counts`` is None, per-source-
        partition lineage counts are collected by ``observe()`` DURING the
        merge job (zero extra passes).

        Semantics = Iceberg ``MERGE INTO t USING u ON key WHEN MATCHED AND
        op='D' THEN DELETE / WHEN MATCHED THEN UPDATE / WHEN NOT MATCHED AND
        op<>'D' THEN INSERT`` (SURVEY.md §7.2) under LWW-by-``lsn``.
        """
        t0 = t_start if t_start is not None else time.time()
        snap = self.snapshot()
        lo, hi = offset_range
        prior = snap.applied.get(stream_id, [])
        if _covered(prior, lo, hi):
            return -1, None  # exactly-once: already applied
        applied = {**snap.applied, stream_id: _merge_ranges(prior + [[lo, hi]])}
        new_version = snap.version + 1

        def lineage(counts: list[tuple[int, int]]) -> list[dict]:
            t_end = time.time()
            return [
                asdict(
                    LineageEntry(
                        batch_id=batch_id,
                        offset_start=lo,
                        offset_end=hi,
                        snapshot_id=new_version,
                        rows_applied=int(n),
                        partition=int(p),
                        t_start=t0,
                        t_end=t_end,
                    )
                )
                for p, n in counts
            ]

        # ---- lineage-by-observation (no extra pass) ---------------------
        observation = None
        if partition_counts is None:
            from pyspark.sql import Observation

            has_sp = "source_partition" in updates.columns
            observation = Observation(f"lineage_b{batch_id}")

            def _build_metrics() -> list:
                sp = F.col("source_partition") if has_sp else F.lit(-1)
                m = [
                    F.sum(F.when(sp == i, 1).otherwise(0)).alias(f"p{i}")
                    for i in range(_OBSERVE_PARTITIONS if has_sp else 0)
                ]
                m.append(
                    F.sum(
                        F.when(
                            (sp < 0) | (sp >= _OBSERVE_PARTITIONS), 1
                        ).otherwise(0)
                    ).alias("rest")
                )
                return m

            metrics = cached_columns(
                self.spark, "observe_metrics", (has_sp,), _build_metrics
            )
            updates = updates.observe(observation, *metrics)
        updates = (
            updates.drop("source_partition")
            if "source_partition" in updates.columns
            else updates
        )

        # ---- schema evolution (additive) --------------------------------
        table_schema = self.payload_schema(snap)
        table_cols = {f.name for f in table_schema.fields}
        incoming_payload = [
            f for f in updates.schema.fields if f.name not in ("op", "lsn")
        ]
        new_fields = [f for f in incoming_payload if f.name not in table_cols]
        evolved = T.StructType(
            list(table_schema.fields)
            + [T.StructField(f.name, f.dataType, True) for f in new_fields]
        )
        payload_cols = [f.name for f in evolved.fields]
        # updates may also MISS columns (older producer): fill with null
        upd = updates
        for f in evolved.fields:
            if f.name not in updates.columns:
                upd = upd.withColumn(f.name, F.lit(None).cast(f.dataType))

        upd = upd.select(
            *payload_cols,
            *cached_columns(
                self.spark,
                "merge_sys_cols",
                (),
                lambda: [
                    F.col("lsn").alias("_lsn"),
                    (F.col("op") == "D").alias("_deleted"),
                ],
            ),
        )

        # ---- incoming key stats (per bucket) ----------------------------
        if incoming_stats is None:
            incoming_stats = {
                int(r["b"]): (r["klo"], r["khi"], int(r["n"]))
                for r in upd.groupBy(self.bucket_expr().alias("b"))
                .agg(
                    F.min("conv_id").alias("klo"),
                    F.max("conv_id").alias("khi"),
                    F.count("*").alias("n"),
                )
                .collect()
            }
        if not incoming_stats:
            # empty batch (e.g. everything quarantined upstream) with a
            # REAL offset range: commit a data-less snapshot that records
            # the range, else the ledger keeps a permanent hole and replay-
            # completeness checks report the stream as unfinished
            self._commit_next(
                snap,
                snap.buckets,
                snap.deltas,
                applied,
                lineage([(-1, 0)]),
                snap.schema_json,
                touched=(),  # data untouched: reuse parent manifests as-is
            )
            return new_version, [(-1, 0)]

        # ---- file-level pruning -----------------------------------------
        candidates: dict[int, list[str]] = {}
        untouched: dict[int, list[str]] = {}
        cand_rows = 0
        for b, (klo, khi, _n) in incoming_stats.items():
            cand, keep = [], []
            for p in snap.buckets.get(str(b), []):
                if _overlaps(snap.file_stats.get(p), klo, khi):
                    cand.append(p)
                else:
                    keep.append(p)
            candidates[b], untouched[b] = cand, keep
            cand_rows += sum(
                int(snap.file_stats.get(p, {}).get("rows") or 0) for p in cand
            )
        incoming_rows = sum(n for _, _, n in incoming_stats.values())
        use_delta = mode == "delta" or (
            mode == "auto" and cand_rows > _DELTA_THRESHOLD * max(incoming_rows, 1)
        )

        # ---- reduce + write ----------------------------------------------
        # the explicit bucket repartition BEFORE the reduce is the whole
        # merge pipeline's only payload shuffle: it routes rows to their
        # bucket partition AND satisfies the LWW groupBy's clustering
        # requirement (conv_id is a prefix of the agg key), so the
        # aggregate runs in place and the write needs no further exchange
        if use_delta:
            # in-batch LWW only: O(batch) write volume, table untouched
            rows = upd
        else:
            rows = self._read_files(
                snap, [p for ps in candidates.values() for p in ps]
            )
            for f in new_fields:  # stored side lacks brand-new columns
                rows = rows.withColumn(f.name, F.lit(None).cast(f.dataType))
            rows = rows.select(*upd.columns).unionByName(upd)
        winner = last_writer_wins(self._partition_by_bucket(rows), KEY, "_lsn")

        by_bucket = self._write_bucketed(winner, self._new_data_dir(new_version))

        buckets, deltas = dict(snap.buckets), dict(snap.deltas)
        for b in incoming_stats:
            new = by_bucket.get(b, [])
            if not use_delta:
                buckets[str(b)] = untouched[b] + new
            elif new:
                deltas[str(b)] = deltas.get(str(b), []) + new

        # ---- lineage + ledger -------------------------------------------
        obs_counts: list[tuple[int, int]] | None = None
        if partition_counts is None:
            got = observation.get  # blocks until the write action's metrics
            obs_counts = [
                (int(k[1:]), int(v))
                for k, v in got.items()
                if k.startswith("p") and v
            ]
            if got.get("rest"):
                obs_counts.append((-1, int(got["rest"])))
            partition_counts = sorted(obs_counts) or [(-1, 0)]
        self._commit_next(
            snap,
            buckets,
            deltas,
            applied,
            lineage(partition_counts),
            evolved.json(),
            touched=incoming_stats.keys(),
        )
        return new_version, obs_counts

    # ------------------------------------------------------------ expire
    def expire_snapshots(
        self, keep_last: int = 10, grace_seconds: float = 3600.0
    ) -> list[str]:
        """Delete data directories referenced ONLY by snapshots older than
        the ``keep_last`` most recent (Iceberg's expire_snapshots). Also
        collects orphan dirs from losing/crashed writers — but never dirs
        younger than ``grace_seconds``: an IN-FLIGHT merge has written its
        data dir before linking the snapshot JSON, and vacuuming it mid-
        commit would produce a snapshot referencing deleted files (the
        ``older_than`` pattern of Iceberg's remove_orphan_files; ADVICE
        r2). Snapshot JSONs are kept (they are tiny and hold the lineage
        history); their data becomes unreadable. Returns removed dirs."""
        import shutil

        current = self.current_version()
        keep_versions = range(max(0, current - keep_last + 1), current + 1)
        live_dirs: set[str] = set()
        for v in keep_versions:
            snap = self.snapshot(v)
            for files in list(snap.buckets.values()) + list(snap.deltas.values()):
                live_dirs.update(os.path.dirname(f) for f in files)
        data_root = os.path.join(self.root, "data")
        removed = []
        now = time.time()
        if os.path.isdir(data_root):
            for d in sorted(os.listdir(data_root)):
                full = os.path.join(data_root, d)
                if full in live_dirs:
                    continue
                try:
                    if now - os.path.getmtime(full) < grace_seconds:
                        continue  # possibly an in-flight writer's dir
                except OSError:
                    continue  # vanished concurrently
                shutil.rmtree(full, ignore_errors=True)
                removed.append(full)
        # manifest files referenced by NO snapshot JSON are leftovers of
        # crashed/losing writers (manifest written, snapshot link failed);
        # referenced ones stay forever — snapshot JSONs are kept and must
        # remain loadable for the lineage walk. Same grace window applies.
        mdir = os.path.join(self._log_dir, "manifests")
        if os.path.isdir(mdir):
            referenced: set[str] = set()  # manifest FILENAMES (stored form)
            for f in os.listdir(self._log_dir):
                if f.startswith("v") and f.endswith(".json"):
                    with open(os.path.join(self._log_dir, f)) as fh:
                        referenced.update(json.load(fh).get("manifests", {}))
            for f in sorted(os.listdir(mdir)):
                if f in referenced:
                    continue
                full = os.path.join(mdir, f)
                try:
                    if now - os.path.getmtime(full) < grace_seconds:
                        continue
                    os.unlink(full)
                except OSError:
                    continue
                removed.append(full)
        return removed

    # ------------------------------------------------------------ compact
    def compact(
        self, drop_tombstones: bool = True, buckets: list[int] | None = None
    ) -> int:
        """Fold merge-on-read deltas into key-unique base files and rewrite
        small files (optionally purging tombstones once replay protection
        no longer needs them) — Iceberg's rewrite_data_files + MoR
        compaction in one. ``buckets`` limits the rewrite to a subset (the
        unit of incremental maintenance at 100 TB: compact the buckets
        whose delta backlog grew, leave the cold ones byte-untouched).
        After a FULL compact the read path is reduction-free again."""
        snap = self.snapshot()
        sel = list(range(self.n_buckets)) if buckets is None else sorted(buckets)
        paths = self._bucket_paths(snap, sel)
        if not paths:
            return snap.version
        df = last_writer_wins(
            self._partition_by_bucket(self._read_files(snap, paths)), KEY, "_lsn"
        )
        if drop_tombstones:
            df = df.filter(~F.col("_deleted"))
        by_bucket = self._write_bucketed(df, self._new_data_dir(snap.version + 1))
        buckets, deltas = dict(snap.buckets), dict(snap.deltas)
        for b in sel:
            buckets[str(b)] = by_bucket.get(b, [])
            deltas.pop(str(b), None)
        return self._commit_next(
            snap, buckets, deltas, snap.applied, [], snap.schema_json, touched=sel
        )

    def maintain(
        self, max_delta_files: int = 4, max_base_files: int = 8
    ) -> int:
        """Incremental maintenance policy: compact ONLY the buckets whose
        delta backlog (or base-file fragmentation) crossed the thresholds.
        Returns the new version, or the current one if nothing qualified.
        This is the background loop a 10^10-event deployment runs between
        merges so read-side reduction cost stays bounded while hot buckets
        never force cold-bucket rewrites."""
        snap = self.snapshot()
        due = [
            b
            for b in range(self.n_buckets)
            if len(snap.deltas.get(str(b), [])) >= max_delta_files
            or len(snap.buckets.get(str(b), [])) >= max_base_files
        ]
        if not due:
            return snap.version
        return self.compact(drop_tombstones=False, buckets=due)
