"""apply_changes — the north-star entry point: ordered change-event batch
(or chunked log replay) -> ``SnapshotTable.merge``, which reduces by LSN
(last writer wins, deletes kept as tombstones), upserts bucket by bucket
and commits data, offset ledger and per-source-partition lineage counts
(the reference's per-task record accounting,
``internal/pkg/pipeline/task/task.go:95-108``) in one atomic snapshot.
All JVM-side DataFrame ops, zero per-row Python.

Replay (``replay_chunks``) walks an ordered directory of log segments and
is resumable: a chunk whose LSN range is already in the table's applied
ledger is skipped — the engine-level equivalent of the reference's Kafka
group-mode resume-from-committed-offset
(``internal/pkg/pipeline/task/kafka/kafka.go:203-301``), upgraded to
exactly-once because offsets and data commit atomically.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from caterpillar_spark.sinks.snapshot_table import SnapshotTable
from caterpillar_spark.sinks.table_log import footer_range


@dataclass
class BatchResult:
    batch_id: int
    snapshot_version: int  # -1 => skipped (already applied, or empty ad hoc)
    rows_in: int
    seconds: float


def apply_changes(
    events: DataFrame,
    table: SnapshotTable,
    batch_id: int,
    stream_id: str = "default",
    offset_range: tuple[int, int] | None = None,
) -> BatchResult:
    """Apply one ordered change-event batch to the table, exactly once.

    A pass-through to :meth:`SnapshotTable.merge`, whose one stats pass
    derives the batch's lineage counts and key stats. ``offset_range``
    known up front (binlog segments carry their LSN range in parquet
    footers — see ``replay_chunks``) lets the merge's ledger check skip an
    applied batch with ZERO Spark jobs; an ad-hoc batch (``None``) gets its
    range from that same stats pass, run before the ledger check.
    There is no pre-dedup: the merge's aggregation IS the last-writer-wins
    reducer, and deduping here first would shuffle the batch twice.
    """
    t0 = time.time()
    version, counts = table.merge(
        events,
        batch_id=batch_id,
        offset_range=offset_range,
        stream_id=stream_id,
    )
    rows_in = 0 if version < 0 else sum(n for _, n in counts)
    return BatchResult(batch_id, version, rows_in, time.time() - t0)


def segment_footer_stats(path: str) -> tuple[int, int, int] | None:
    """(lsn_lo, lsn_hi, rows) of a log segment from parquet footers —
    driver-side milliseconds, no Spark job — or None when a file with rows
    lacks ``lsn`` stats. Binlog segments carry their offset range in
    metadata, exactly like real binlog files carry their LSN span in the
    header."""
    files = [
        footer_range(os.path.join(path, f), "lsn")
        for f in os.listdir(path)
        if f.endswith(".parquet")
    ]
    if any(lo is None and rows for lo, _, rows in files):
        return None
    known = [(lo, hi) for lo, hi, _ in files if lo is not None]
    if not known:
        return None
    return (
        int(min(lo for lo, _ in known)),
        int(max(hi for _, hi in known)),
        sum(rows for _, _, rows in files),
    )


def replay_chunks(
    spark: SparkSession,
    chunk_paths: list[str],
    table: SnapshotTable,
    stream_id: str = "default",
) -> list[BatchResult]:
    """Replay an ordered on-disk change log chunk by chunk, resumably.

    Already-applied chunks are skipped via the snapshot ledger — using the
    segment's footer-derived LSN range, so a skipped chunk costs zero
    Spark jobs; every other chunk runs the merge's one stats pass.
    Calling this after a crash (or calling it twice) converges to the
    same table state — the replay-certification invariant of
    BASELINE.json.

    The stream schema is inferred ONCE from the latest chunk (segments may
    gain columns mid-stream — additive evolution — so the newest footer has
    the union schema) and pinned for every read: no per-chunk footer
    inference on the driver's serial path.
    """
    results = []
    paths = sorted(chunk_paths)
    if not paths:
        return results
    schema = spark.read.parquet(paths[-1]).schema
    for i, path in enumerate(paths):
        events = spark.read.schema(schema).parquet(path)
        st = segment_footer_stats(path)
        results.append(
            apply_changes(
                events,
                table,
                batch_id=i,
                stream_id=stream_id,
                offset_range=None if st is None else (st[0], st[1]),
            )
        )
    return results
