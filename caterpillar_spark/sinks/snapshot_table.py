"""SnapshotTable — a transactional, bucketed, snapshot-versioned lake table
on plain parquet. The sandbox stand-in for Iceberg with the same contract:
atomic commits, exactly-once via an offset ledger stored IN the snapshot,
additive schema evolution, tombstoned deletes, per-partition lineage.

This module is the Spark half: routing, reads, merge and compaction. The
layout, commit protocol, offset ledger, manifests and per-file footer
stats live in :mod:`caterpillar_spark.sinks.table_log` (no Spark).

File/bucket invariant: every BASE file contains rows of EXACTLY ONE bucket.
A row's bucket is ``pmod(hash(conv_id), n)`` — Spark's own HashPartitioning
placement. A write runs one task per residue class: it shuffles once, with
``repartition(m, conv_id)``, where m divides n and is at most the session's
cores, and since ``pmod(h, n) mod m == pmod(h, m)``, shuffle partition r
holds exactly the buckets ``b % m == r``. The same exchange satisfies the
LWW aggregate's clustering. A base write partitions each task's output
by bucket id, so a task writes one file per bucket of its class into a
``<col>=<b>/`` directory that names the bucket; no per-row bucket column
is stored. The bucket -> files pointers are exact (no co-hashed stale
rows can survive a bucket rewrite). A DELTA file holds a whole residue
class and is listed by exactly the buckets with rows in it; ``compact()``
drops it from all of them at once.

Scale design (100 TB / 1000 executors):
- a merge prunes at FILE granularity on the per-file ``conv_id`` min/max
  the log records: only files whose key range overlaps the batch are
  rewritten — a 1%-of-keyspace batch rewrites ~1% of table bytes;
- small batches take the **merge-on-read delta path**: the reduced batch is
  appended as residue-class delta files, at most one per core, or one
  for a driver-merged batch (write volume and commit metadata O(batch),
  zero table rewrite); the read path LWW-reduces base∪delta by ``_lsn``
  and ``compact()`` folds deltas back into unique-key base files —
  Iceberg's MoR/compaction lifecycle;
- a batch the optimizer sizes at most ``_DRIVER_BYTES`` (a streaming
  micro-batch of any number of files) is **merged on the driver** when it
  goes delta: one ``toArrow()`` collect is its only Spark job, and its
  stats, LWW reduce and one-file parquet write run in pyarrow. A job's
  fixed planning, codegen and scheduling cost exceeds such a batch's
  rows; the bound caps the driver memory the collected batch takes;
- ``maintain()`` bounds the delta backlog in two tiers, both decided from
  the log's footer stats with no Spark job, like an LSM tree's minor and
  major compactions: a **fold** LWW-reduces the live delta commits
  alone into ONE delta commit (reads and writes O(backlog), never a base
  file; a backlog of at most ``_DRIVER_BYTES`` on disk is read, reduced
  and written on the driver, with no Spark job), and only a bucket whose
  delta rows reach a fraction of its base rows (or whose base is
  fragmented) has its base rewritten by ``compact()``;
- deletes are tombstones (``_deleted``), so row-level merge is idempotent
  and commutative under re-delivery; ``compact()`` drops them later;
- the merge reduction is a hash aggregate (``max_by``) with map-side
  partial combine — hot conv_ids pre-reduce before the shuffle.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
import uuid
from collections.abc import Iterable
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from caterpillar_spark.operators.dedup import last_writer_wins, last_writer_wins_arrow
from caterpillar_spark.plans import input_partitions, size_estimate
from caterpillar_spark.session import cached_columns
from caterpillar_spark.sinks.table_log import Snapshot, TableLog, updated_ledger

if TYPE_CHECKING:
    import pyarrow as pa

KEY = ["conv_id", "turn_idx"]
_SYS_COLS = ["_lsn", "_deleted"]
# merges take the delta path when the files a CoW would rewrite hold more
# than this many times the incoming rows (BENCH/delta_ab.json)
_DELTA_THRESHOLD = 3.0
# maintain()'s tiers (the sweep behind k and f is in CHANGES.md): fold the
# delta backlog into one delta commit once this many delta commits are live
_FOLD_COMMITS = 4
# ... and rewrite a bucket's base once its delta rows reach this fraction
# of its base rows, or its base is split into this many files
_MAJOR_DELTA_FRAC = 0.5
_MAX_BASE_FILES = 8
# a batch whose optimizer size estimate is at most this many bytes is
# merged on the driver, and a delta backlog of at most this many bytes on
# disk is folded there: collected or read once as Arrow, it is held whole
# in driver memory, with its reduced copy and its parquet encoding
_DRIVER_BYTES = 1 << 20
# the column types a driver-written delta file may hold: pyarrow writes
# them as Spark's parquet writer does (timestamps as INT96, Spark's
# default). Others keep the Spark write: a TimestampNTZ, say, written as
# INT96 would not read back as one
_DRIVER_TYPES = (
    T.StringType, T.BinaryType, T.BooleanType, T.ByteType, T.ShortType,
    T.IntegerType, T.LongType, T.FloatType, T.DoubleType, T.DateType,
    T.TimestampType,
)
# a batch's per-bucket (min conv_id, max conv_id, rows)
KeyStats = dict[int, tuple[str, str, int]]
# one group of a batch's stats: (source partition, bucket, rows, min lsn,
# max lsn, min conv_id, max conv_id)
StatRow = tuple[int, int, int, int, int, str, str]

# the one declaration of a lineage row (stored as a JSON object in this
# field order in each snapshot's ``lineage``)
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


def _timed(fn, *args, **kwargs):
    """``fn(*args, **kwargs)`` and its wall seconds, rounded to 0.1 ms."""
    t = time.perf_counter()
    out = fn(*args, **kwargs)
    return out, round(time.perf_counter() - t, 4)


def _fold_stats(
    rows: Iterable[StatRow],
) -> tuple[tuple[int, int] | None, list[tuple[int, int]], KeyStats]:
    """A batch's LSN range (None if it has no rows), rows per source
    partition and per-bucket ``(min_key, max_key, rows)``, folded from its
    per-(source partition, bucket) groups."""
    rows = list(rows)
    if not rows:
        return None, [], {}
    by_sp: dict[int, int] = {}
    by_b: dict[int, list[StatRow]] = {}
    for r in rows:
        by_sp[r[0]] = by_sp.get(r[0], 0) + r[2]
        by_b.setdefault(r[1], []).append(r)
    incoming: KeyStats = {
        b: (min(r[5] for r in g), max(r[6] for r in g), sum(r[2] for r in g))
        for b, g in by_b.items()
    }
    lsn_range = (min(r[3] for r in rows), max(r[4] for r in rows))
    return lsn_range, sorted(by_sp.items()), incoming


def _driver_storable(fields: list[T.StructField]) -> bool:
    """Whether the driver may store rows of these fields: conv_id is a
    string (so :func:`murmur3_hash_bytes` routes it) and every type is
    in ``_DRIVER_TYPES``. The size bound is the caller's."""
    return all(isinstance(f.dataType, _DRIVER_TYPES) for f in fields) and any(
        f.name == "conv_id" and isinstance(f.dataType, T.StringType) for f in fields
    )


def _refuse_nulls(null_lsns: int, null_keys: int) -> None:
    """Raise if a change batch holds a NULL ``lsn`` or ``conv_id``: LWW by
    LSN cannot order the one, and the other has no bucket or key range,
    so a merge would drop or duplicate rows without a word."""
    if null_lsns or null_keys:
        raise ValueError(
            f"change batch holds {null_lsns} row(s) with a NULL lsn and "
            f"{null_keys} with a NULL conv_id; merge refuses both: split "
            "them off first with operators.quarantine.validate_change_events"
        )


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


class SnapshotTable:
    def __init__(self, spark: SparkSession, root: str, n_buckets: int = 64):
        self.spark = spark
        self.root = root
        self.n_buckets = n_buckets
        self.log = TableLog(root)
        if self.log.exists():
            # adopt the stored n_buckets NOW: the public n_buckets and
            # bucket_for_key read it before any snapshot() load, and so
            # does an ad-hoc merge's stats pass (a bucket expression)
            try:
                self.snapshot()
            except (RuntimeError, FileNotFoundError, json.JSONDecodeError):
                # retired format (inline pointers, per-bucket manifests) or
                # corrupt latest snapshot: defer — the first actual use
                # re-raises, and repair flows stay able to construct the
                # object (ADVICE r3)
                pass

    # ------------------------------------------------------------ metadata
    def snapshot(self, version: int | None = None) -> Snapshot:
        snap = self.log.snapshot(self.current_version() if version is None else version)
        # the STORED bucket count is authoritative (ADVICE r2): a handle
        # opened with a mismatched n_buckets would silently under-read
        # (read() iterates range(self.n_buckets)) or mis-bucket merges
        self.n_buckets = int(snap.properties.get("n_buckets") or self.n_buckets)
        return snap

    def current_version(self) -> int:
        return self.log.current_version()

    def applied_ranges(self, stream_id: str = "default") -> list[list[int]]:
        return self.log.applied_ranges(stream_id)

    def expire_snapshots(
        self, keep_last: int = 10, grace_seconds: float = 3600.0
    ) -> list[str]:
        return self.log.expire_snapshots(keep_last, grace_seconds)

    # ------------------------------------------------------------- create
    def create(self, payload_schema: T.StructType) -> "SnapshotTable":
        if self.log.exists():
            raise FileExistsError(f"table already exists at {self.root}")
        props = {"n_buckets": self.n_buckets}
        self.log.commit(
            Snapshot(
                0, payload_schema.json(), properties=props,
                summary={"operation": "create"},
            )
        )
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
        before a column existed return null for it — no rewrite. No bucket
        filter is needed: a base file holds one bucket and a delta file
        only buckets that list it, so the path list IS the bucket pruning.
        """
        schema = self._stored_schema(snap)
        if not paths:
            return self.spark.createDataFrame([], schema)
        return self.spark.read.schema(schema).parquet(*sorted(paths))

    def _read_arrow(self, snap: Snapshot, paths: list[str]) -> pa.Table:
        """The driver twin of :meth:`_read_files`: the raw stored rows of
        the given files (one or more) as one Arrow table in the stored schema, with the
        types ``toArrow()`` yields (a ``TimestampType`` as
        ``timestamp[us, tz=UTC]``) and a file written before a column
        existed giving typed NULLs for it. Each file is read whole through
        ``pq.ParquetFile``: ``pq.read_table`` would import
        ``pyarrow.dataset``, which alone adds ~36 MB to the driver's RSS."""
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_type

        schema = pa.schema(
            (f.name, to_arrow_type(f.dataType)) for f in self._stored_schema(snap).fields
        )
        tables = []
        for p in sorted(paths):
            t = pq.ParquetFile(p, coerce_int96_timestamp_unit="us").read()
            tables.append(
                pa.Table.from_arrays(
                    [
                        t.column(f.name).cast(f.type)
                        if f.name in t.column_names
                        else pa.nulls(t.num_rows, f.type)
                        for f in schema
                    ],
                    schema=schema,
                )
            )
        return pa.concat_tables(tables)

    @staticmethod
    def _listed_by(snap: Snapshot, buckets: set[int], klo=None, khi=None) -> list[str]:
        """The files any of ``buckets`` lists whose conv_id range overlaps
        ``[klo, khi]`` (every one of them without a range)."""
        return [
            p
            for p, e in snap.files.items()
            if not buckets.isdisjoint(e["buckets"]) and snap.overlaps(p, klo, khi)
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
        routing (a base file holds ONE bucket, a delta file its residue
        class, whose other buckets' rows the read's equality filter
        drops) then per-file conv_id min/max from the manifest entries —
        the read-side twin of merge's CoW pruning. At 10^6
        files this turns "fetch one conversation" from a full-table scan
        into reading a handful of files."""
        buckets = {self.bucket_for_key(k) for k in conv_ids}
        paths = self._listed_by(snap, buckets, min(conv_ids), max(conv_ids))
        return paths, any(snap.files[p]["delta"] for p in paths)

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
        paths = key_filter = None
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
            # a non-string key keeps the full file set: the driver-side
            # murmur3 twin hashes the STRING bytes, which diverges from the
            # writer's native-typed routing — pruning would scan the wrong
            # bucket and silently return nothing. The equality filter still
            # pushes into the parquet scan.
            if isinstance(key_field.dataType, T.StringType):
                paths, any_deltas = self._pruned_key_paths(snap, keys)
                orig_keys = keys  # string column: compare str() forms
            key_filter = (
                F.col("conv_id") == F.lit(orig_keys[0])
                if len(orig_keys) == 1
                else F.col("conv_id").isin(orig_keys)
            )
        if paths is None:
            paths = list(snap.files)
            any_deltas = snap.has_deltas()
        df = self._read_files(snap, paths)
        if key_filter is not None:
            df = df.filter(key_filter)
        if any_deltas:
            df = last_writer_wins(df, KEY, "_lsn")
        if not include_deleted:
            df = df.filter(~F.col("_deleted"))
        return df.drop(*_SYS_COLS) if not include_deleted else df

    def manifest(self) -> DataFrame:
        """All lineage entries across the snapshot history (FIXTURES.md §3)."""
        return self.spark.createDataFrame(
            [
                tuple(r[f.name] for f in MANIFEST_SCHEMA.fields)
                for r in self.log.lineage()
            ],
            MANIFEST_SCHEMA,
        )

    # -------------------------------------------------------------- write
    def bucket_expr(self) -> F.Column:
        """Bucket id = ``pmod(hash(conv_id), n_buckets)`` — exactly Spark's
        own HashPartitioning placement for ``repartition(n_buckets,
        conv_id)``. So one explicit repartition on conv_id into m classes
        (m dividing n_buckets, see :meth:`_write`) puts each bucket in one
        task AND satisfies the LWW aggregation's (conv_id, turn_idx)
        clustering requirement: the reduce+route runs on a single
        exchange of the payload, and a base write names each file's
        bucket by partitioning on this expression within the task."""
        return F.pmod(F.hash(F.col("conv_id")), F.lit(self.n_buckets)).cast("int")

    def _write_classes(self) -> int:
        """Residue classes of a shuffled write, base or delta: the largest
        divisor of n_buckets that is at most the session's cores, so a
        write runs at most one task per core. Equals n_buckets (one
        bucket per task) when the session has that many cores."""
        cores = self.spark.sparkContext.defaultParallelism
        return max(
            d for d in range(1, min(cores, self.n_buckets) + 1)
            if self.n_buckets % d == 0
        )

    def _write(
        self,
        version: int,
        rows: DataFrame,
        touched: Iterable[int] | None = None,
        drop_tombstones: bool = False,
    ) -> dict[str, tuple[list[int], bool]]:
        """LWW-reduce ``rows`` (stored columns) and write them into a fresh
        data dir of ``version``: the Spark write path of every commit that
        writes data (a delta merge of a batch collected to the driver and
        a fold of a backlog read on the driver write through its twin,
        :meth:`_write_arrow`). Returns ``commit_next``'s ``added``.

        The write runs one task per residue class. ``rows`` is shuffled
        into m = :meth:`_write_classes` partitions with ``repartition(m,
        conv_id)``: for m dividing n_buckets, ``pmod(h, n) mod m ==
        pmod(h, m)``, so partition r holds exactly the buckets ``b % m ==
        r``. AQE never coalesces an explicit ``repartition(m, col)``
        (REPARTITION_BY_NUM), so the mapping holds, and the LWW groupBy on
        (conv_id, ...) reuses this exchange instead of adding its own.

        ``touched`` None is a base write: each task writes one file per
        bucket of its class under ``<col>=<b>/``, listed by that bucket.
        Else it is a delta write of one flat file per class, keyed by its
        ``part-NNNNN`` index c and listed by the buckets of ``touched``
        with ``b % m == c``. A class file no bucket lists is deleted, with
        its ``.crc`` checksum: it is the empty file Spark's task 0 leaves
        for a class without rows, in this fresh, unreferenced dir. Reads
        pass the file paths and a schema, so the directory adds no
        column."""
        m = self._write_classes()
        rows = last_writer_wins(rows.repartition(m, F.col("conv_id")), KEY, "_lsn")
        if drop_tombstones:
            rows = rows.filter(~F.col("_deleted"))
        data_dir = self.log.new_data_dir(version)
        if touched is None:
            # a partition column no payload column shadows (names compare
            # case-insensitively)
            col, taken = "_bucket", {c.lower() for c in rows.columns}
            while col in taken:
                col = "_" + col
            rows = rows.withColumn(col, self.bucket_expr())
            rows.write.mode("errorifexists").partitionBy(col).parquet(data_dir)
        else:
            rows.write.mode("errorifexists").parquet(data_dir)
        written = self._files_by_key(
            data_dir,
            [
                os.path.relpath(os.path.join(d, f), data_dir)
                for d, _, files in os.walk(data_dir)
                for f in files
                if f.startswith("part-") and f.endswith(".parquet")
            ],
        )
        added = {}
        for key, p in written.items():
            if touched is None:
                added[p] = ([key], False)
            elif bs := [b for b in touched if b % m == key]:
                added[p] = (bs, True)
            else:
                os.unlink(p)
                d, f = os.path.split(p)
                with contextlib.suppress(FileNotFoundError):  # its checksum
                    os.unlink(os.path.join(d, f".{f}.crc"))
        return added

    @staticmethod
    def _files_by_key(data_dir: str, names: list[str]) -> dict[int, str]:
        """Key each part file one write left in ``data_dir`` (``names`` are
        relative to it): a file under ``<col>=<b>/`` by its bucket b, a
        top-level ``part-NNNNN-...`` by its class index NNNNN. A key has
        one file; a second one (a retried task's leftover, say) would hold
        the same rows again, and a delta-free read would return them
        twice, so it raises."""
        out: dict[int, str] = {}
        for name in names:
            d, f = os.path.split(name)
            key = int(d.split("=", 1)[1]) if d else int(f.split("-")[1])
            if key in out:
                raise RuntimeError(
                    f"write to {data_dir} left two files for "
                    f"{'bucket' if d else 'class'} {key}: {out[key]}, "
                    f"{os.path.join(data_dir, name)}"
                )
            out[key] = os.path.join(data_dir, name)
        return out

    # -------------------------------------------------------------- merge
    def _batch_stats(
        self, df: DataFrame
    ) -> tuple[tuple[int, int] | None, list[tuple[int, int]], KeyStats, pa.Table | None]:
        """One narrow pass over a change batch (source_partition, conv_id
        and lsn): its LSN range (None if empty), rows per source partition
        (-1 for rows without one), per-bucket ``(min_key, max_key, rows)``,
        and the batch itself as Arrow if the pass collected it (else None).
        It raises ``ValueError`` if a row has a NULL ``lsn`` or ``conv_id``.

        If the driver may store the batch's fields
        (:func:`_driver_storable`) and the optimizer sizes it at most
        ``_DRIVER_BYTES`` (:func:`~caterpillar_spark.plans.size_estimate`,
        no job), the pass is ``toArrow()``, one job of one task per input
        partition, and the stats are computed on the driver from the
        collected columns, which the merge may then reduce and write there
        too. Else Spark aggregates them, and a batch Spark reads as one
        partition (a one-file segment, counted from its plan by
        :func:`~caterpillar_spark.plans.input_partitions`, no job) is
        aggregated in its own task: ``coalesce(1)`` satisfies the groupBy,
        so the pass is one job of one task, with no shuffle. Both feed the
        same grouped rows to one fold; the Spark aggregate counts NULLs by
        comparing ``count(col)`` with ``count(*)``, the driver reads each
        column's ``null_count``."""
        size = size_estimate(df) if _driver_storable(df.schema.fields) else None
        if size is not None and size <= _DRIVER_BYTES:
            batch = df.toArrow()
            _refuse_nulls(batch.column("lsn").null_count, batch.column("conv_id").null_count)
            return (*_fold_stats(self._arrow_stat_rows(batch)), batch)
        if input_partitions(df) == 1:
            df = df.coalesce(1)
        sp = F.lit(-1)
        if "source_partition" in df.columns:
            sp = F.coalesce(F.col("source_partition"), sp)
        rows = (
            df.groupBy(sp.alias("sp"), self.bucket_expr().alias("b"))
            .agg(
                F.count("*").alias("n"),
                F.min("lsn").alias("lo"),
                F.max("lsn").alias("hi"),
                F.min("conv_id").alias("klo"),
                F.max("conv_id").alias("khi"),
                F.count("lsn").alias("n_lsn"),
                F.count("conv_id").alias("n_key"),
            )
            .collect()
        )
        _refuse_nulls(sum(r.n - r.n_lsn for r in rows), sum(r.n - r.n_key for r in rows))
        return (*_fold_stats(r[:7] for r in rows), None)

    def _arrow_stat_rows(self, batch: pa.Table) -> list[StatRow]:
        """The stats aggregate's grouped rows, from a collected batch's
        columns, which hold no NULL ``lsn`` or ``conv_id``: a row's bucket
        is ``murmur3_hash_bytes(conv_id) % n``."""
        n, buckets = self.n_buckets, {}
        sps = (
            batch.column("source_partition").to_pylist()
            if "source_partition" in batch.column_names
            else [None] * batch.num_rows
        )
        groups: dict[tuple[int, int], list[tuple]] = {}
        for sp, key, lsn in zip(
            sps, batch.column("conv_id").to_pylist(), batch.column("lsn").to_pylist()
        ):
            if key not in buckets:
                buckets[key] = murmur3_hash_bytes(key.encode()) % n
            group = (-1 if sp is None else sp, buckets[key])
            groups.setdefault(group, []).append((lsn, key))
        rows = []
        for (sp, b), g in groups.items():
            lsns, keys = zip(*g)
            rows.append((sp, b, len(g), min(lsns), max(lsns), min(keys), max(keys)))
        return rows

    def merge(
        self,
        updates: DataFrame,
        batch_id: int,
        offset_range: tuple[int, int] | None = None,
        stream_id: str = "default",
    ) -> tuple[int, list[tuple[int, int]] | None]:
        """Apply a change batch (``op`` + ``lsn`` columns; multiple events
        per key allowed — the merge aggregation is itself the last-writer-
        wins reducer). Returns ``(version, partition_counts)`` as recorded
        in the lineage; ``(-1, None)`` if the ledger already covers
        ``offset_range`` (checked before any Spark job) or if an ad-hoc
        batch is empty (nothing is committed).

        The one place that derives a batch's statistics and decides how it
        merges, from measurements:

        - Every batch the ledger does not skip runs one :meth:`_batch_stats`
          pass, which gives its LSN range, its per-source-partition lineage
          counts and its per-bucket key stats. An ad-hoc batch
          (``offset_range=None``) runs it first, for the range the ledger
          check needs; a known range goes to the ledger check first, so a
          covered range costs zero Spark jobs.
        - The CoW candidates are the files whose key range overlaps the
          batch. If they hold more than ``_DELTA_THRESHOLD``× the incoming
          rows, the reduced batch is appended as merge-on-read delta
          files, one per residue class (zero table rewrite; reads
          LWW-reduce until ``compact()``); else the candidates are
          rewritten copy-on-write with the batch, one file per bucket. A
          batch with at least the table's rows therefore always takes CoW:
          its candidates hold at most the table's rows.

        Both Spark paths shuffle into the :meth:`_write_classes` residue
        classes, so the write runs one task per class, not per bucket. If
        the stats pass collected the batch to the driver (at most
        ``_DRIVER_BYTES`` by the optimizer's estimate, any number of
        partitions) and it goes delta, the driver reduces and writes one
        file itself (:meth:`_write_arrow`): the collect is the merge's
        only job. It does so only if the evolved schema passes
        :func:`_driver_storable` too (the table may hold a column type
        the batch lacks); else, and for a collected batch that goes CoW,
        Spark writes. A batch with a NULL ``lsn`` or ``conv_id`` raises
        ``ValueError`` in the stats pass, before any write:
        ``operators.quarantine.validate_change_events`` splits such rows
        off.

        Either path commits data + offset ledger + lineage in ONE atomic
        snapshot create, whose ``summary`` holds the merge's ``operation``
        (``cow``, ``delta``, or ``empty`` for a batch with no rows) and
        its phase seconds: ``stats_pass_s`` (the :meth:`_batch_stats`
        call, the collect included), ``plan_s`` (entry to the write call,
        less the stats pass), ``write_s`` (the :meth:`_write` call:
        shuffle, reduce, parquet write and file listing, or the stored
        columns' build and the :meth:`_write_arrow` call: reduce and
        parquet write; 0 for an empty batch) and the commit's
        ``footer_s``. A driver-merged batch's summary adds ``driver:
        true``. Semantics = Iceberg ``MERGE
        INTO t USING u ON key WHEN MATCHED AND op='D' THEN DELETE / WHEN
        MATCHED THEN UPDATE / WHEN NOT MATCHED AND op<>'D' THEN INSERT``
        (SURVEY.md §7.2) under LWW-by-``lsn``.
        """
        t0, clock = time.time(), time.perf_counter()
        stats = None
        if offset_range is None:
            stats, stats_s = _timed(self._batch_stats, updates)
            offset_range = stats[0]
            if offset_range is None:
                return -1, None  # empty ad-hoc batch: no range to record
        snap = self.snapshot()
        lo, hi = offset_range
        applied = updated_ledger(snap.applied, stream_id, lo, hi)
        if applied is None:
            return -1, None  # exactly-once: already applied
        if stats is None:
            stats, stats_s = _timed(self._batch_stats, updates)
        _, partition_counts, incoming_stats, batch = stats
        new_version = snap.version + 1

        def plan_s() -> float:  # the merge so far, less the stats pass
            return round(time.perf_counter() - clock - stats_s, 4)

        def lineage(counts: list[tuple[int, int]]) -> list[dict]:
            t_end = time.time()
            return [
                dict(
                    zip(
                        MANIFEST_SCHEMA.fieldNames(),
                        (batch_id, lo, hi, new_version, int(n), int(p), t0, t_end),
                    )
                )
                for p, n in counts
            ]

        if not incoming_stats:
            # empty batch (e.g. everything quarantined upstream) with a
            # REAL offset range: commit a data-less snapshot that records
            # the range, else the ledger keeps a permanent hole and replay-
            # completeness checks report the stream as unfinished
            self.log.commit_next(  # no file changed: keeps the parent's manifests
                snap, self.n_buckets, applied=applied, lineage=lineage([(-1, 0)]),
                summary={
                    "operation": "empty", "stats_pass_s": stats_s,
                    "plan_s": plan_s(), "write_s": 0,
                },
            )
            return new_version, [(-1, 0)]

        updates = updates.drop("source_partition")  # no-op when absent

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

        # ---- file-level pruning -----------------------------------------
        # the base files (one bucket each) whose key range overlaps the
        # batch's in their bucket
        candidates = [
            p
            for p, e in snap.files.items()
            if not e["delta"]
            and e["buckets"][0] in incoming_stats
            and snap.overlaps(p, *incoming_stats[e["buckets"][0]][:2])
        ]
        cand_rows = sum(int(snap.files[p]["rows"] or 0) for p in candidates)
        incoming_rows = sum(n for _, _, n in incoming_stats.values())
        use_delta = cand_rows > _DELTA_THRESHOLD * max(incoming_rows, 1)
        phases = {"operation": "delta" if use_delta else "cow", "stats_pass_s": stats_s}

        # ---- reduce + write ----------------------------------------------
        if use_delta and batch is not None and _driver_storable(evolved.fields):
            # the collected batch: reduced and written on the driver
            phases.update(plan_s=plan_s(), driver=True)
            added, phases["write_s"] = _timed(
                lambda: self._write_arrow(
                    new_version, self._stored_arrow(batch, evolved), incoming_stats
                )
            )
        else:
            # :meth:`_write`'s residue-class repartition BEFORE the reduce
            # is the whole merge pipeline's only payload shuffle
            rows = self._stored_rows(updates, evolved)
            if not use_delta:
                cow = self._read_files(snap, candidates)
                for f in new_fields:  # stored side lacks brand-new columns
                    cow = cow.withColumn(f.name, F.lit(None).cast(f.dataType))
                rows = cow.select(*rows.columns).unionByName(rows)
            phases["plan_s"] = plan_s()
            added, phases["write_s"] = _timed(
                self._write, new_version, rows, incoming_stats if use_delta else None
            )

        # ---- lineage + ledger -------------------------------------------
        self.log.commit_next(
            snap,
            self.n_buckets,
            added=added,
            removed=[] if use_delta else candidates,
            applied=applied,
            lineage=lineage(partition_counts),
            schema_json=evolved.json(),
            summary=phases,
        )
        return new_version, partition_counts

    def _stored_rows(self, updates: DataFrame, evolved: T.StructType) -> DataFrame:
        """A change batch as stored rows: the ``evolved`` payload columns
        (NULL where the batch lacks one: an older producer), then ``_lsn``
        and ``_deleted``."""
        upd = updates
        for f in evolved.fields:
            if f.name not in updates.columns:
                upd = upd.withColumn(f.name, F.lit(None).cast(f.dataType))
        return upd.select(
            *evolved.fieldNames(),
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

    @staticmethod
    def _stored_arrow(batch: pa.Table, evolved: T.StructType) -> pa.Table:
        """A collected change batch as stored rows, the driver twin of
        :meth:`_stored_rows`: the ``evolved`` payload columns (typed NULLs
        where the batch lacks one), then ``_lsn`` and ``_deleted``."""
        import pyarrow as pa
        import pyarrow.compute as pc
        from pyspark.sql.pandas.types import to_arrow_type

        cols, fields = [], []
        for f in evolved.fields:
            if f.name in batch.column_names:
                cols.append(batch.column(f.name))
                fields.append(batch.schema.field(f.name))
            else:  # an older producer's batch: typed NULLs
                typ = to_arrow_type(f.dataType)
                cols.append(pa.chunked_array([pa.nulls(batch.num_rows, typ)], typ))
                fields.append(pa.field(f.name, typ))
        cols += [batch.column("lsn"), pc.equal(batch.column("op"), "D")]
        fields += [
            batch.schema.field("lsn").with_name("_lsn"),
            pa.field("_deleted", pa.bool_()),
        ]
        return pa.Table.from_arrays(cols, schema=pa.schema(fields))

    def _write_arrow(
        self, version: int, rows: pa.Table, touched: Iterable[int]
    ) -> dict[str, tuple[list[int], bool]]:
        """The driver twin of a delta :meth:`_write`, for a driver merge
        and a driver fold: it reduces ``rows`` (stored columns) with
        :func:`~caterpillar_spark.operators.dedup.last_writer_wins_arrow`,
        tombstones kept, and writes ONE parquet file, class 0 of m = 1,
        into a fresh data dir of ``version``, listed by every bucket of
        ``touched``. The file's physical schema is a Spark-written delta
        file's: the same column order and nullability, and timestamps as
        INT96. It stores no ``ARROW:schema`` footer entry: neither Spark
        nor :meth:`_read_arrow`, which casts to the stored schema, reads
        it. Returns ``commit_next``'s ``added``."""
        import pyarrow.parquet as pq

        rows = last_writer_wins_arrow(rows, KEY, "_lsn")
        data_dir = self.log.new_data_dir(version)
        os.makedirs(data_dir)
        path = os.path.join(data_dir, f"part-00000-{uuid.uuid4()}.snappy.parquet")
        pq.write_table(
            rows, path, use_deprecated_int96_timestamps=True, store_schema=False
        )
        return {path: (sorted(touched), True)}

    # ------------------------------------------------------------ compact
    def compact(
        self, drop_tombstones: bool = True, buckets: list[int] | None = None
    ) -> int:
        """Major compaction: fold merge-on-read deltas into key-unique base
        files and rewrite small files (optionally purging tombstones once
        replay protection no longer needs them) — Iceberg's
        rewrite_data_files + MoR compaction in one. ``buckets`` limits the
        rewrite to a subset (the unit of incremental maintenance at 100 TB:
        :meth:`maintain` compacts the buckets whose delta rows grew, leaving
        the cold ones byte-untouched). The subset is widened to its closure
        over shared delta files: a delta file holds one residue class (a
        driver merge's or a driver fold's file, every bucket it touched),
        so every bucket that lists it is rewritten too — cold class-mates
        included — and the file is dropped from all of them at once.
        Dropping it from only some would let a full read see an update
        whose tombstone the compaction purged. After a FULL compact the
        read path is reduction-free again. The commit's ``summary`` holds
        ``operation`` ``compact`` and ``write_s`` (the :meth:`_write`
        call)."""
        snap = self.snapshot()
        sel = list(range(self.n_buckets)) if buckets is None else buckets
        paths = self._listed_by(snap, self._delta_closure(snap, sel))
        if not paths:
            return snap.version
        added, write_s = _timed(
            self._write,
            snap.version + 1,
            self._read_files(snap, paths),
            drop_tombstones=drop_tombstones,
        )
        return self.log.commit_next(
            snap, self.n_buckets, added=added, removed=paths,
            summary={"operation": "compact", "write_s": write_s},
        )

    @staticmethod
    def _delta_closure(snap: Snapshot, buckets) -> set[int]:
        """``buckets`` plus every bucket that shares a delta file with one
        already in the set, to a fixed point."""
        closure, todo = set(), list(buckets)
        while todo:
            b = todo.pop()
            if b not in closure:
                closure.add(b)
                for p in snap.deltas.get(str(b), []):
                    todo.extend(snap.files[p]["buckets"])
        return closure

    def maintain(self) -> int:
        """Incremental maintenance in two tiers, each decided from the
        snapshot's metadata alone (footer rows in ``files``, no Spark
        job) — an LSM tree's or Iceberg's major and minor compaction:

        - **major**: compact (:meth:`compact`, tombstones kept, closure
          over shared delta files) the buckets whose base is split into
          ``_MAX_BASE_FILES`` files or whose delta rows reach
          ``_MAJOR_DELTA_FRAC`` of their base rows. A bucket's delta rows
          count each delta file it lists at ``rows / (buckets listing
          it)``, the file's rows spread over its buckets.
        - **minor (fold)**: else, once ``_FOLD_COMMITS`` delta commits
          are live (the distinct data dirs of the live delta files, each
          flat in its commit's dir), LWW-reduce those files alone into ONE
          delta commit, the same write as a delta merge: a Spark fold
          writes one file per residue class, each listed by the buckets
          with rows in it, a driver fold one file listed by every bucket
          that listed a folded file. The files keep their tombstones:
          they still shadow base rows. Since LWW by ``_lsn`` is
          associative and no base file is touched, a full read reduces
          base ∪ the new files to the same winners; the fold reads and
          writes O(delta backlog), not O(table). If the live delta files
          sum to at most ``_DRIVER_BYTES`` on disk (manifest entries hold
          no byte count) and the stored schema passes
          :func:`_driver_storable`, the driver reads (:meth:`_read_arrow`),
          reduces and writes (:meth:`_write_arrow`) the backlog with no
          Spark job; else :meth:`_write` does. Its commit changes no
          ledger or lineage, and its ``summary`` holds ``operation``
          ``fold`` and ``write_s`` (the read, reduce and write), plus
          ``driver: true`` for a driver fold.

        Returns the new version, or the current one if neither tier is
        due. This is the background loop a 10^10-event deployment runs
        between merges: the fold keeps the read-side reduction bounded, and
        a hot bucket's base rewrite never forces a cold bucket's beyond the
        class-mates that share its delta files."""
        snap = self.snapshot()

        def rows(p: str) -> int:
            return int(snap.files[p]["rows"] or 0)

        due = []
        for b in range(self.n_buckets):
            base, deltas = snap.buckets.get(str(b), []), snap.deltas.get(str(b), [])
            delta_rows = sum(rows(p) / len(snap.files[p]["buckets"]) for p in deltas)
            if len(base) >= _MAX_BASE_FILES or (
                deltas and delta_rows >= _MAJOR_DELTA_FRAC * sum(map(rows, base))
            ):
                due.append(b)
        if due:
            return self.compact(drop_tombstones=False, buckets=due)
        live = [p for p, e in snap.files.items() if e["delta"]]
        if len({os.path.dirname(p) for p in live}) < _FOLD_COMMITS:
            return snap.version
        version, summary = snap.version + 1, {"operation": "fold"}
        touched = {b for p in live for b in snap.files[p]["buckets"]}
        if (
            _driver_storable(self._stored_schema(snap).fields)
            and sum(map(os.path.getsize, live)) <= _DRIVER_BYTES
        ):
            # two live delta files never hold the same (conv_id, turn_idx,
            # _lsn): the ledger applies an LSN range once and a fold
            # removes its inputs. So the order the files are read in never
            # decides a winner
            summary["driver"] = True
            added, summary["write_s"] = _timed(
                lambda: self._write_arrow(version, self._read_arrow(snap, live), touched)
            )
        else:
            added, summary["write_s"] = _timed(
                self._write, version, self._read_files(snap, live), touched
            )
        return self.log.commit_next(
            snap, self.n_buckets, added=added, removed=live, summary=summary
        )
