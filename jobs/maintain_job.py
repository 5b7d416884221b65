"""Table-maintenance entry point: the background loop a long-running CDC
deployment schedules between merges.

    spark-submit --py-files /tmp/caterpillar_spark.zip jobs/maintain_job.py \
        --table /mnt/shared/transcripts_table \
        [--max-delta-files 4] [--max-base-files 8] \
        [--full-compact] [--drop-tombstones] \
        [--expire-keep-last 10]

Default behaviour is INCREMENTAL: compact only the buckets whose
merge-on-read delta backlog or base-file fragmentation crossed the
thresholds (`SnapshotTable.maintain`), then vacuum data dirs no committed
snapshot references (`expire_snapshots` — also collects orphan dirs from
crashed/losing writers). ``--full-compact`` rewrites everything and purges
tombstones, restoring the reduction-free read path.
"""

from __future__ import annotations

import argparse
import json

from caterpillar_spark.session import get_spark
from caterpillar_spark.sinks.snapshot_table import SnapshotTable


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--table", required=True)
    ap.add_argument(
        "--n-buckets",
        type=int,
        default=None,
        help="bucket count for NEW tables (default 256); an existing "
        "table's stored count is authoritative and always adopted",
    )
    ap.add_argument("--max-delta-files", type=int, default=4)
    ap.add_argument("--max-base-files", type=int, default=8)
    ap.add_argument("--full-compact", action="store_true")
    ap.add_argument("--drop-tombstones", action="store_true")
    ap.add_argument("--expire-keep-last", type=int, default=10)
    args = ap.parse_args()

    spark = get_spark("caterpillar-maintain")
    table = SnapshotTable(spark, args.table, n_buckets=args.n_buckets or 256)
    v0 = table.current_version()
    if args.full_compact:
        v1 = table.compact(drop_tombstones=args.drop_tombstones)
    else:
        v1 = table.maintain(
            max_delta_files=args.max_delta_files,
            max_base_files=args.max_base_files,
        )
    removed = table.expire_snapshots(keep_last=args.expire_keep_last)
    print(
        json.dumps(
            {
                "table": args.table,
                "version_before": v0,
                "version_after": v1,
                "compacted": v1 > v0,
                "expired_dirs": len(removed),
            }
        )
    )


if __name__ == "__main__":
    main()
