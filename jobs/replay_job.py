"""Cluster entry point for the CDC replay job.

Packaging + launch (the north rule's spark-submit form):

    cd /root/repo && zip -r /tmp/caterpillar_spark.zip caterpillar_spark
    spark-submit \
        --py-files /tmp/caterpillar_spark.zip \
        --conf spark.sql.adaptive.enabled=true \
        --conf spark.sql.adaptive.skewJoin.enabled=true \
        jobs/replay_job.py \
        --log-dir  /mnt/shared/changelog \
        --table    /mnt/shared/transcripts_table \
        --mode     stream            # or: batch

``--table`` must be a POSIX path on a filesystem shared by the driver
(SnapshotTable's snapshot log uses local-file ``os.link`` atomic creates —
valid on a POSIX shared mount, NOT on s3:// object stores or NFS without
atomic link semantics). This job drives SnapshotTable only; an
object-store deployment uses ``sinks.IcebergTable``, the same ledger
contract over a real Iceberg catalog, driven batch by batch through its
own ``merge()``. ``--log-dir`` is read through Spark, so any
Hadoop-filesystem URI works there.

Identical code runs at N and 4N executors; throughput/lineage land in the
table manifest, so scaling efficiency is read straight from
``table.manifest()`` rows ((offset_end-offset_start+1) / (t_end-t_start)).
"""

from __future__ import annotations

import argparse
import json
import os

from caterpillar_spark.cdc import replay_chunks
from caterpillar_spark.session import get_spark
from caterpillar_spark.sinks.snapshot_table import SnapshotTable
from caterpillar_spark.streaming import (
    TRANSCRIPT_SCHEMA,
    apply_stream,
    stream_changelog,
)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--log-dir", required=True)
    ap.add_argument("--table", required=True)
    ap.add_argument("--checkpoint", default=None)
    ap.add_argument("--mode", choices=["batch", "stream"], default="stream")
    ap.add_argument(
        "--n-buckets",
        type=int,
        default=None,
        help="bucket count for NEW tables (default 256); an existing "
        "table's stored count is authoritative and always adopted",
    )
    ap.add_argument("--create", action="store_true")
    args = ap.parse_args()

    spark = get_spark("caterpillar-cdc-replay")
    table = SnapshotTable(spark, args.table, n_buckets=args.n_buckets or 256)
    if args.create and not table.exists():
        table.create(TRANSCRIPT_SCHEMA)

    if args.mode == "batch":
        chunks = sorted(
            os.path.join(args.log_dir, d)
            for d in os.listdir(args.log_dir)
            if d.startswith("chunk-")
        )
        results = replay_chunks(spark, chunks, table)
        print(
            json.dumps(
                [
                    {
                        "batch": r.batch_id,
                        "version": r.snapshot_version,
                        "rows": r.rows_in,
                        "sec": round(r.seconds, 2),
                    }
                    for r in results
                ]
            )
        )
    else:
        ckpt = args.checkpoint or f"{args.table}/_checkpoint"
        q = apply_stream(stream_changelog(spark, args.log_dir), table, ckpt)
        q.awaitTermination()


if __name__ == "__main__":
    main()
