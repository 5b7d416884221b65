"""Table-maintenance entry point: the background loop a long-running CDC
deployment schedules between merges.

    spark-submit --py-files /tmp/caterpillar_spark.zip jobs/maintain_job.py \
        --table /mnt/shared/transcripts_table \
        [--full-compact] [--drop-tombstones] \
        [--expire-keep-last 10]

Default behaviour is INCREMENTAL (`SnapshotTable.maintain`): compact the
buckets whose merge-on-read delta rows reached a fraction of their base
rows (or whose base is fragmented), else fold the live delta commits
into one delta commit once enough of them pile up, else do nothing; then
vacuum data dirs no committed snapshot references (`expire_snapshots` —
also collects orphan dirs from crashed/losing writers). ``--full-compact``
rewrites everything, restoring the reduction-free read path; it purges
tombstones only with ``--drop-tombstones``. The JSON line's ``operation`` names what ran: ``compact``,
``fold`` or null, and ``driver`` whether it ran on the driver with no
Spark job (a fold of a small backlog), null when nothing ran.
"""

from __future__ import annotations

import argparse
import json

from caterpillar_spark.session import get_spark
from caterpillar_spark.sinks.snapshot_table import SnapshotTable


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--table", required=True)
    ap.add_argument("--full-compact", action="store_true")
    ap.add_argument("--drop-tombstones", action="store_true")
    ap.add_argument("--expire-keep-last", type=int, default=10)
    args = ap.parse_args()

    spark = get_spark("caterpillar-maintain")
    # the table's stored bucket count is adopted on open
    table = SnapshotTable(spark, args.table)
    v0 = table.current_version()
    if args.full_compact:
        v1 = table.compact(drop_tombstones=args.drop_tombstones)
    else:
        v1 = table.maintain()
    summary = table.snapshot(v1).summary if v1 > v0 else {}
    removed = table.expire_snapshots(keep_last=args.expire_keep_last)
    print(
        json.dumps(
            {
                "table": args.table,
                "version_before": v0,
                "version_after": v1,
                "compacted": v1 > v0,
                "operation": summary.get("operation"),
                "driver": summary.get("driver", False) if summary else None,
                "expired_dirs": len(removed),
            }
        )
    )


if __name__ == "__main__":
    main()
