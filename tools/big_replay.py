"""10^8-event pinned replay record (VERDICT r2 next-round #7): measure —
not assert — that the driver-serial merge phases amortize at large
batches. Times each merge's plan/write/stats phases and its stats pass
(``merge_phases``) and reports the serial share (everything outside the
distributed stats-pass and write jobs) of replay wall time.

Usage: python tools/big_replay.py [--events 100000000] [--chunks 4]
       [--cores 16]
Appends one JSON record to BENCH/big_replay.json.
"""

from __future__ import annotations

import argparse
import contextlib
import inspect
import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from caterpillar_spark.sinks.snapshot_table import SnapshotTable  # noqa: E402


@contextlib.contextmanager
def merge_phases(batches: int):
    """Wrap ``SnapshotTable.merge``, ``_batch_stats`` and
    ``_write_bucketed`` for the block and yield a list that gains one
    ``{batch, plan_sec, stats_pass_sec, write_sec, stats_sec}`` per merge
    that writes data: stats_pass is the time inside ``_batch_stats`` (a
    distributed job), plan runs from the merge's entry to the write less
    the stats pass, write is the time inside ``_write_bucketed``, stats
    runs from the write's exit to the merge's return. After restoring
    all three, raises unless exactly ``batches`` phases were captured: a
    merge that stopped calling the wrapped writer must fail the record,
    not leave it empty."""
    merge = SnapshotTable.__dict__["merge"]
    batch_stats = SnapshotTable.__dict__["_batch_stats"]
    write = SnapshotTable.__dict__["_write_bucketed"]
    bind = inspect.signature(merge).bind
    phases: list[dict] = []
    passes: list[float] = []
    writes: list[tuple[float, float]] = []

    def timed_merge(self, *args, **kwargs):
        call = bind(self, *args, **kwargs).arguments
        t0 = time.time()
        passes.clear()
        writes.clear()
        out = merge(self, *args, **kwargs)
        if writes:
            (w0, _), (_, w1) = writes[0], writes[-1]
            phases.append({
                "batch": call["batch_id"],
                "plan_sec": round(w0 - t0 - sum(passes), 2),
                "stats_pass_sec": round(sum(passes), 2),
                "write_sec": round(w1 - w0, 2),
                "stats_sec": round(time.time() - w1, 2),
            })
        return out

    def timed_batch_stats(self, df):
        t = time.time()
        out = batch_stats(self, df)
        passes.append(time.time() - t)
        return out

    def timed_write(*args, **kwargs):
        t = time.time()
        out = write.__func__(*args, **kwargs)
        writes.append((t, time.time()))
        return out

    SnapshotTable.merge = timed_merge
    SnapshotTable._batch_stats = timed_batch_stats
    SnapshotTable._write_bucketed = staticmethod(timed_write)
    try:
        yield phases
    finally:
        SnapshotTable.merge = merge
        SnapshotTable._batch_stats = batch_stats
        SnapshotTable._write_bucketed = write
    if len(phases) != batches:
        raise RuntimeError(
            f"captured {len(phases)} merge phases for {batches} data batches"
        )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--events", type=int, default=100_000_000)
    ap.add_argument("--chunks", type=int, default=4)
    ap.add_argument("--cores", type=int, default=16)
    ap.add_argument("--no-tmpfs", dest="tmpfs", action="store_false")
    args = ap.parse_args()

    os.sched_setaffinity(0, set(range(args.cores)))
    os.chdir(ROOT)

    from caterpillar_spark.session import get_spark

    extra = {}
    if args.tmpfs:
        os.makedirs("/dev/shm/caterpillar_scaling", exist_ok=True)
        extra["spark.local.dir"] = "/dev/shm/caterpillar_scaling/spark_local"
    chunk_rows = args.events // args.chunks
    shuffle_parts = max(16, chunk_rows // 600_000)
    spark = get_spark(
        "big-replay", cores=args.cores, shuffle_partitions=shuffle_parts,
        extra_conf=extra,
    )
    import bench

    if args.tmpfs:
        bench.TABLE_BASE = "/dev/shm/caterpillar_scaling"

    # C2 warm-up (untimed) then input generation (cached, untimed)
    for _ in range(3):
        bench.run_cdc_bench(spark, 2_000_000, 2)
    t_gen0 = time.time()
    bench.cdc_events_dir(spark, args.events, args.chunks)
    gen_sec = round(time.time() - t_gen0, 1)

    # every chunk of the generated log carries events, so each writes data
    with merge_phases(args.chunks) as phases:
        res = bench.run_cdc_bench(spark, args.events, args.chunks)
    serial = sum(p["plan_sec"] + p["stats_sec"] for p in phases)
    record = {
        "events": args.events,
        "chunks": args.chunks,
        "cores": args.cores,
        "pinned": True,
        "tmpfs": args.tmpfs,
        "seconds": res["seconds"],
        "events_per_sec": res["events_per_sec"],
        "final_rows": res["final_rows"],
        "gen_seconds_untimed": gen_sec,
        "merge_phases": phases,
        "serial_sec_total": round(serial, 2),
        "serial_share": round(serial / res["seconds"], 4),
        "timestamp": time.strftime("%Y-%m-%d %H:%M:%S"),
    }
    print(json.dumps(record))
    with open(os.path.join(ROOT, "BENCH", "big_replay.json"), "a") as f:
        f.write(json.dumps(record) + "\n")


if __name__ == "__main__":
    main()
