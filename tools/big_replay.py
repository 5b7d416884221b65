"""10^8-event pinned replay record (VERDICT r2 next-round #7): measure —
not assert — that the driver-serial merge phases amortize at large
batches. Replays the cached benchmark change log into a fresh table and
reads each data-writing merge's phase seconds from its snapshot summary
(``merge_phases``); reports the serial share (everything outside the
distributed stats-pass and write jobs) of replay wall time.

Usage: python tools/big_replay.py [--events 100000000] [--chunks 4]
       [--cores N (default: every CPU this process may use)]
Appends one JSON record to BENCH/big_replay.json.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from caterpillar_spark.cdc import replay_chunks  # noqa: E402
from caterpillar_spark.session import get_spark  # noqa: E402
from caterpillar_spark.sinks.snapshot_table import SnapshotTable  # noqa: E402
from caterpillar_spark.sinks.table_log import TableLog  # noqa: E402
from caterpillar_spark.streaming.apply import TRANSCRIPT_SCHEMA  # noqa: E402


def merge_phases(log: TableLog) -> list[dict]:
    """One ``{batch, plan_sec, stats_pass_sec, write_sec, stats_sec,
    manifest_sec}`` per merge that wrote data (summary ``operation``
    ``cow`` or ``delta``), oldest first, from its summary: ``stats_sec`` is
    the commit's footer reads, ``manifest_sec`` its manifest bookkeeping
    and write."""
    phases = []
    for v in range(1, log.current_version() + 1):
        snap = log.snapshot(v)
        s = snap.summary
        if s.get("operation") not in ("cow", "delta"):
            continue  # empty batch, compaction, fold
        phases.append({
            "batch": snap.lineage[0]["batch_id"],
            "plan_sec": round(s["plan_s"], 2),
            "stats_pass_sec": round(s["stats_pass_s"], 2),
            "write_sec": round(s["write_s"], 2),
            "stats_sec": round(s["footer_s"], 2),
            "manifest_sec": round(s["manifest_s"], 2),
        })
    return phases


def replay(spark, chunks: list[str], base: str) -> tuple[float, int, list[dict]]:
    """Replay ``chunks`` into a fresh table under ``base``: (replay
    seconds, final rows, :func:`merge_phases`). The table is removed."""
    root = f"{base}/table_{os.getpid()}_{time.time_ns()}"
    tbl = SnapshotTable(spark, root, n_buckets=32).create(TRANSCRIPT_SCHEMA)
    t0 = time.time()
    replay_chunks(spark, chunks, tbl)
    seconds = time.time() - t0
    rows = tbl.read().count()
    phases = merge_phases(tbl.log)
    shutil.rmtree(root, ignore_errors=True)
    return seconds, rows, phases


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--events", type=int, default=100_000_000)
    ap.add_argument("--chunks", type=int, default=4)
    ap.add_argument("--cores", type=int, default=len(os.sched_getaffinity(0)))
    ap.add_argument("--no-tmpfs", dest="tmpfs", action="store_false")
    args = ap.parse_args()

    os.sched_setaffinity(0, sorted(os.sched_getaffinity(0))[: args.cores])
    os.chdir(ROOT)
    import bench

    base, extra = bench.TABLE_BASE, {}
    if args.tmpfs:
        base = "/dev/shm/caterpillar_scaling"
        os.makedirs(base, exist_ok=True)
        extra["spark.local.dir"] = f"{base}/spark_local"
    chunk_rows = args.events // args.chunks
    shuffle_parts = max(16, chunk_rows // 600_000)
    spark = get_spark(
        "big-replay", cores=args.cores, shuffle_partitions=shuffle_parts,
        extra_conf=extra,
    )

    # C2 warm-up (untimed) then input generation (cached, untimed)
    for _ in range(3):
        replay(spark, bench.cdc_events_dir(spark, 2_000_000, 2), base)
    t_gen0 = time.time()
    chunks = bench.cdc_events_dir(spark, args.events, args.chunks)
    gen_sec = round(time.time() - t_gen0, 1)

    seconds, rows, phases = replay(spark, chunks, base)
    serial = sum(p["plan_sec"] + p["stats_sec"] + p["manifest_sec"] for p in phases)
    record = {
        "events": args.events,
        "chunks": args.chunks,
        "cores": args.cores,
        "pinned": True,
        "tmpfs": args.tmpfs,
        "seconds": round(seconds, 2),
        "events_per_sec": round(args.events / seconds, 1),
        "final_rows": rows,
        "gen_seconds_untimed": gen_sec,
        "merge_phases": phases,
        "serial_sec_total": round(serial, 2),
        "serial_share": round(serial / seconds, 4),
        "timestamp": time.strftime("%Y-%m-%d %H:%M:%S"),
    }
    print(json.dumps(record))
    with open(os.path.join(ROOT, "BENCH", "big_replay.json"), "a") as f:
        f.write(json.dumps(record) + "\n")


if __name__ == "__main__":
    main()
