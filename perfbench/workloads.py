"""The benchmark's workloads: seeded inputs, set-up, the timed loop and
the untimed output checks.

Every workload drives the engine through its public API only:
``generator``, ``cdc``, ``streaming.apply`` and ``SnapshotTable``.

- ``bulk_replay``: ``cdc.replay_chunks`` of a seeded change log into an
  empty 32-bucket table. Every segment is at least table-sized, so each
  batch takes the bulk copy-on-write path.
- ``stream_upsert``: ``streaming.apply.apply_stream`` over small segments,
  one per trigger, into a bulk-loaded base table (delta path, periodic
  ``maintain()``).

After the timed window each workload reads its table in full and looks up
seeded hot and cold keys; those reads are checked and feed the read-path
numbers.
"""

from __future__ import annotations

import os
import random
import shutil
import sys
import time
from dataclasses import dataclass, field

from pyspark.sql import Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T

from caterpillar_spark import cdc, generator
from caterpillar_spark.generator import GeneratorSpec
from caterpillar_spark.sinks.snapshot_table import SnapshotTable
from caterpillar_spark.streaming import apply as streaming_apply
from eventlog import median

N_BUCKETS = 32
SETUP_REPS = 3

# payload schema of the target table: the change-event columns minus the
# system columns (op, lsn, source_partition)
PAYLOAD = T.StructType(
    [
        f
        for f in streaming_apply.CHANGE_EVENT_SCHEMA.fields
        if f.name not in ("op", "lsn", "source_partition")
    ]
)
COLUMNS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]


# ---------------------------------------------------------------- inputs
@dataclass
class Log:
    """A change log on disk: ordered segment directories, one parquet file
    each, and the digest of the generated rows."""

    spec: GeneratorSpec
    segments: list[str]
    digest: str  # "rows:sum of row hashes", observed while writing
    rows: dict[str, int]  # segment path -> rows
    bytes: dict[str, int]  # segment path -> bytes on disk


def write_log(spark, spec: GeneratorSpec, out_dir: str, base: int, seg_size: int) -> Log:
    """Write ``generator.change_events(spec)`` as ordered segments in one
    Spark job: segment 0 holds LSNs ``[0, base)`` (if ``base`` > 0), then
    one segment per ``seg_size`` LSNs."""
    lsn = F.col("lsn")
    rest = ((lsn - base) / seg_size).cast("long") + (1 if base else 0)
    seg = F.when(lsn < base, F.lit(0).cast("long")).otherwise(rest) if base else rest
    tmp = os.path.join(out_dir, "_parts")
    events = generator.change_events(spark, spec)
    seen = Observation("log")
    (
        events.observe(
            seen,
            F.count("*").alias("n"),
            F.sum(F.xxhash64(*events.columns).cast("decimal(38,0)")).alias("h"),
        )
        .withColumn("_seg", seg)
        .repartition("_seg")
        .write.partitionBy("_seg")
        .parquet(tmp)
    )
    segments, rows, sizes = [], {}, {}
    for d in os.listdir(tmp):
        if not d.startswith("_seg="):
            continue
        dst = os.path.join(out_dir, f"seg-{int(d.split('=', 1)[1]):05d}")
        os.rename(os.path.join(tmp, d), dst)
        for f in os.listdir(dst):
            if not f.endswith(".parquet"):
                os.unlink(os.path.join(dst, f))
        sizes[dst] = sum(os.path.getsize(os.path.join(dst, f)) for f in os.listdir(dst))
        rows[dst] = cdc.segment_footer_stats(dst)[2]
        segments.append(dst)
    shutil.rmtree(tmp)
    return Log(spec, sorted(segments), f"{seen.get['n']}:{seen.get['h']}", rows, sizes)


def table_bytes(table: SnapshotTable, version: int) -> dict[str, int]:
    """Data file -> size of every base and delta file live at ``version``."""
    snap = table.snapshot(version)
    return {
        p: os.path.getsize(p)
        for files in list(snap.buckets.values()) + list(snap.deltas.values())
        for p in files
    }


def write_stats(table: SnapshotTable, v0: int, v1: int, in_bytes: int) -> dict[str, float]:
    """Per-layer write numbers of the commits in ``(v0, v1]``: merge
    commits carry lineage, maintenance commits do not."""
    merge_bytes = merge_files = merges = maintain_bytes = maintains = 0
    prev = table_bytes(table, v0)
    for v in range(v0 + 1, v1 + 1):
        cur = table_bytes(table, v)
        new = [size for p, size in cur.items() if p not in prev]
        if table.snapshot(v).lineage:
            merge_bytes, merge_files, merges = merge_bytes + sum(new), merge_files + len(new), merges + 1
        else:
            maintain_bytes, maintains = maintain_bytes + sum(new), maintains + 1
        prev = cur
    return {
        "snapshot_table.data_bytes_written": merge_bytes / max(1, merges),
        "snapshot_table.files_written": merge_files / max(1, merges),
        "snapshot_table.maintain.bytes_rewritten": maintain_bytes / max(1, maintains),
        "write_amp": (merge_bytes + maintain_bytes) / max(1, in_bytes),
    }


def log_dir_stats(table: SnapshotTable) -> tuple[int, int]:
    """(bytes, files) under the table's ``_log`` directory."""
    total = files = 0
    for dirpath, _, names in os.walk(os.path.join(table.root, "_log")):
        for n in names:
            total += os.path.getsize(os.path.join(dirpath, n))
            files += 1
    return total, files


def diff_count(actual, expected) -> int:
    """Rows in either frame but not the other (``exceptAll`` both ways)."""
    a = actual.select(*COLUMNS)
    e = expected.select(*COLUMNS)
    return a.exceptAll(e).unionAll(e.exceptAll(a)).count()


@dataclass
class Result:
    """What one workload run measured and checked."""

    op_s: list[float] = field(default_factory=list)
    events: int = 0
    busy_s: float = 0.0  # time the rate is taken over
    attempted: int = 0
    failed: int = 0
    layers: dict[str, float] = field(default_factory=dict)

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"perfbench: check failed: {what}", file=sys.stderr)


def full_scan_s(table: SnapshotTable) -> float:
    """Seconds to read the whole table, consumed by the ``noop`` sink."""
    t0 = time.perf_counter()
    table.read().write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def lookup_keys(spec: GeneratorSpec, seed: int, n: int) -> list[str]:
    """``n`` seeded lookup keys: half hot convs, half from the whole range."""
    rng = random.Random(seed)
    hot = [rng.randrange(spec.n_hot) for _ in range(n // 2)]
    cold = [rng.randrange(spec.n_convs) for _ in range(n - len(hot))]
    keys = [f"conv_{k:08d}" for k in hot + cold]
    rng.shuffle(keys)
    return keys


# ------------------------------------------------------------- workloads
class Workload:
    """One workload: ``generate`` and ``build`` are the set-up that runs
    ``SETUP_REPS`` times; ``warm_up`` runs once, untimed by the window;
    ``measure`` is the timed window; ``check`` reads and verifies."""

    name = ""
    N_LOOKUPS = 4  # checked point lookups after the window

    def __init__(self, spark, run_dir: str, seed: int):
        self.spark = spark
        self.run_dir = run_dir
        self.seed = seed

    def generate(self, rep_dir: str) -> Log:
        raise NotImplementedError

    def build(self, log: Log, rep_dir: str) -> None:
        raise NotImplementedError

    def warm_up(self) -> None:
        raise NotImplementedError

    def measure(self, seconds: float) -> Result:
        raise NotImplementedError

    def write_layers(self) -> dict[str, float]:
        """Per-layer write numbers of the window, read from the snapshot
        log after it (so the traced spans hold only the window's calls)."""
        raise NotImplementedError

    def check(self, res: Result) -> None:
        raise NotImplementedError

    def _spec(self, n_events: int, **skew) -> GeneratorSpec:
        return GeneratorSpec(
            n_events=n_events,
            n_convs=self.N_CONVS,
            turns_per_conv=10,
            seed=self.seed,
            n_source_partitions=32,
            **skew,
        )

    def _events(self, segments: list[str]):
        return self.spark.read.schema(streaming_apply.CHANGE_EVENT_SCHEMA).parquet(*segments)

    def _check_reads(self, table: SnapshotTable, segments: list[str], res: Result) -> None:
        """Final state == ``expected_final_state`` (``exceptAll`` both
        ways), then checked point lookups, which also give the read-path
        numbers."""
        expected = generator.expected_final_state(self._events(segments)).select(*COLUMNS).cache()
        res.check(
            diff_count(table.read(), expected) == 0,
            f"{self.name} final state differs from expected_final_state",
        )
        keys = lookup_keys(self.log.spec, self.seed, self.N_LOOKUPS)
        want: dict[str, list[tuple]] = {k: [] for k in keys}
        for r in expected.filter(F.col("conv_id").isin(sorted(set(keys)))).collect():
            want[r["conv_id"]].append(tuple(r))
        live = len(table_bytes(table, table.current_version()))
        plan_s, lookup_s, scanned = [], [], []
        for key in keys:
            t0 = time.perf_counter()
            df = table.read(conv_id=key)
            t1 = time.perf_counter()
            rows = df.collect()
            lookup_s.append(time.perf_counter() - t0)
            plan_s.append(t1 - t0)
            scanned.append(len(df.inputFiles()))
            res.check(sorted(map(tuple, rows)) == sorted(want[key]), f"lookup of {key} returned wrong rows")
        expected.unpersist()
        snap = table.snapshot()
        res.layers.update(
            {
                "snapshot_table.read.lookup_s": median(lookup_s),
                "snapshot_table.read.plan_s": median(plan_s),
                "snapshot_table.read.files_scanned": median(scanned),
                "snapshot_table.read.files_scanned_frac": median(scanned) / max(1, live),
                "snapshot_table.delta_files_live": sum(len(v) for v in snap.deltas.values()),
            }
        )


class BulkReplay(Workload):
    name = "bulk_replay"
    N_CONVS = 2_000  # 20k keys
    SEG_EVENTS = 24_000  # >= table rows, so every batch is a bulk CoW batch
    N_SEGMENTS = 5  # batch 0 fills the empty table; 1..4 are the samples

    def generate(self, rep_dir):
        spec = self._spec(self.SEG_EVENTS * self.N_SEGMENTS)
        return write_log(self.spark, spec, os.path.join(rep_dir, "log"), 0, self.SEG_EVENTS)

    def build(self, log, rep_dir):
        # every timed replay starts from an empty table, so the table built
        # here is a throwaway: two batches (an empty table side, then a full
        # one) that, over the set-up repetitions, warm the merge path's JIT
        self.log = log
        self._replay(log.segments[:2], os.path.join(rep_dir, "table"))

    def _replay(self, segments: list[str], root: str):
        table = SnapshotTable(self.spark, root, n_buckets=N_BUCKETS).create(PAYLOAD)
        t0 = time.perf_counter()
        results = cdc.replay_chunks(self.spark, segments, table)
        return table, results, time.perf_counter() - t0

    def warm_up(self):
        # a fresh JVM runs the merge path several times slower until C2 has
        # compiled it; the set-up's six throwaway batches already bring it
        # to the window's speed (a further warm-up replay ran no faster)
        pass

    def measure(self, seconds):
        res = Result()
        log = self.log
        self.tables = []
        t_end = time.perf_counter() + seconds
        wall = 0.0
        # whole replays, while the next one is expected to end in the window
        while not self.tables or time.perf_counter() + wall <= t_end:
            table, results, wall = self._replay(
                log.segments, os.path.join(self.run_dir, f"replay-{len(self.tables)}")
            )
            self.tables.append(table)
            # the timed operation is a batch with a table side; batch 0
            # (empty table) counts toward the rate only
            res.op_s.extend(r.seconds for r in results[1:])
            res.attempted += len(results)
            res.events += log.spec.n_events
            res.busy_s += wall
        self.table = self.tables[-1]
        return res

    def write_layers(self):
        in_bytes = sum(self.log.bytes.values())
        per_replay = [write_stats(t, 0, t.current_version(), in_bytes) for t in self.tables]
        return {k: median([w[k] for w in per_replay]) for k in per_replay[0]}

    def check(self, res):
        self._check_reads(self.table, self.log.segments, res)
        v = self.table.current_version()
        again = cdc.replay_chunks(self.spark, self.log.segments[-1:], self.table)
        res.check(
            again[0].snapshot_version == -1 and self.table.current_version() == v,
            "bulk_replay re-applied segment was not skipped",
        )


class StreamUpsert(Workload):
    name = "stream_upsert"
    N_CONVS = 2_000  # 20k-key base table
    SEG_EVENTS = 350  # 1.75% of the table's keys per trigger
    WARM = 2  # segments streamed in the warm-up
    MAINTAIN_EVERY = 4
    TAIL = 1  # triggers after the maintain(): reads see a delta backlog

    def generate(self, rep_dir):
        n_keys = self.N_CONVS * 10
        n_segments = self.WARM + self.MAINTAIN_EVERY + self.TAIL
        spec = self._spec(n_keys + self.SEG_EVENTS * n_segments, hot_frac=0.001, hot_traffic=0.8)
        return write_log(self.spark, spec, os.path.join(rep_dir, "log"), n_keys, self.SEG_EVENTS)

    def build(self, log, rep_dir):
        self.log, self.rep_dir = log, rep_dir
        self.table = SnapshotTable(
            self.spark, os.path.join(rep_dir, "table"), n_buckets=N_BUCKETS
        ).create(PAYLOAD)
        cdc.replay_chunks(self.spark, log.segments[:1], self.table)

    def _stream(self, segments: list[str], name: str) -> list:
        """Stream ``segments`` into the table with one availableNow query,
        one segment per trigger; returns the progress of the triggers."""
        stream_dir = os.path.join(self.rep_dir, name)
        for seg in segments:
            # hard links, so each segment appears whole to the stream
            dst = os.path.join(stream_dir, os.path.basename(seg))
            os.makedirs(dst)
            for f in os.listdir(seg):
                os.link(os.path.join(seg, f), os.path.join(dst, f))
        query = streaming_apply.apply_stream(
            streaming_apply.stream_changelog(self.spark, stream_dir, max_files_per_trigger=1),
            self.table,
            os.path.join(self.rep_dir, name + "-checkpoint"),
            available_now=True,
            maintain_every=self.MAINTAIN_EVERY,
        )
        query.awaitTermination()
        return [p for p in query.recentProgress if p["numInputRows"] > 0]

    def warm_up(self):
        # the streaming and delta paths (the base-table build ran the
        # copy-on-write write path that compaction shares)
        self._stream(self.log.segments[1 : 1 + self.WARM], "warm-up")
        self.v0, self.log0 = self.table.current_version(), log_dir_stats(self.table)

    def measure(self, seconds):
        # a fixed amount of work whatever ``seconds`` is: one round of
        # MAINTAIN_EVERY triggers and a maintain(), then TAIL triggers, so
        # both sides of a comparison stream the same batches
        res = Result()
        log = self.log
        self.applied = log.segments[1 + self.WARM :]
        self.progress = self._stream(self.applied, "stream")
        # Spark's numInputRows counts a batch once per action on it, so
        # the events come from the segments
        res.op_s = [p["durationMs"]["triggerExecution"] / 1000.0 for p in self.progress]
        res.attempted = len(self.progress)
        res.busy_s = sum(res.op_s)
        res.events = sum(log.rows[s] for s in self.applied)
        res.check(len(self.progress) == len(self.applied), "stream_upsert did not take one trigger per segment")
        return res

    def write_layers(self):
        v1, log1 = self.table.current_version(), log_dir_stats(self.table)
        out = write_stats(self.table, self.v0, v1, sum(self.log.bytes[s] for s in self.applied))
        out["snapshot_table.log_bytes"] = (log1[0] - self.log0[0]) / max(1, v1 - self.v0)
        out["snapshot_table.log_files"] = log1[1]
        return out

    def check(self, res):
        segments = self.log.segments[: 1 + self.WARM] + self.applied
        self._check_reads(self.table, segments, res)
        v = self.table.current_version()
        again = cdc.apply_changes(self._events(self.applied[-1:]), self.table, batch_id=0, stream_id="stream")
        res.check(
            again.snapshot_version == -1 and self.table.current_version() == v,
            "stream_upsert re-applied segment was not skipped",
        )


WORKLOADS = {w.name: w for w in (BulkReplay, StreamUpsert)}
