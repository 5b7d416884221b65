#!/usr/bin/env python3
"""Benchmark of the caterpillar_spark CDC engine.

    python3 perfbench/run.py --workload bulk_replay --seed 42 --seconds 10 --trace 0

Run from the root of a checkout. One run starts a ``local[4]`` Spark
session, sets up the workload's inputs ``SETUP_REPS`` times from the seed,
measures the workload for ``--seconds``, checks every output, and prints
one JSON object as the last line of standard output:

- ``--trace 0``: the end-to-end metrics, tracing off;
- ``--trace 1``: the per-layer metrics, from in-memory spans around the
  engine's public calls and from Spark's event log.

Run-private files go under ``.perfbench_runs/`` in the checkout; a run
record (host facts, seed, every metric) stays in ``.perfbench_runs/records``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import subprocess
import sys
import time

from eventlog import fold, job_union_s, median

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOAD_NAMES = ("bulk_replay", "stream_upsert")
DEFAULT_SEED = 42
CORES = 4
DRIVER_MEM = "2g"  # the engine's default (48g) does not fit a 15 GB host
# traced runs read the final table in full at least SCANS times and for at
# least SCAN_S seconds, so a short read is timed often enough for a median
SCANS, SCAN_S = 3, 2.0

# name -> unit; the names and units BENCHMARK.json declares
END_TO_END = {
    "setup_s": "s",
    "cpu_us_per_event": "us",
    "peak_rss_mb": "MB",
}
PER_LAYER = {
    "cdc.replay_chunks.s": "s",
    "cdc.segment_footer_stats.s": "s",
    "cdc.apply_changes.s": "s",
    "cdc.apply_changes.driver_s": "s",
    "cdc.apply_changes.job_s": "s",
    "cdc.apply_changes.jobs": "count",
    "cdc.apply_changes.jobs_outside_s": "s",
    "streaming.trigger_s": "s",
    "streaming.overhead_s": "s",
    "snapshot_table.merge.s": "s",
    "snapshot_table.merge.driver_s": "s",
    "snapshot_table.snapshot.s": "s",
    "snapshot_table.applied_ranges.s": "s",
    "snapshot_table.current_version.s": "s",
    "snapshot_table.log_bytes": "bytes",
    "snapshot_table.log_files": "count",
    "snapshot_table.maintain.s": "s",
    "snapshot_table.maintain.bytes_rewritten": "bytes",
    "snapshot_table.data_bytes_written": "bytes",
    "snapshot_table.files_written": "count",
    "snapshot_table.read.scan_s": "s",
    "snapshot_table.read.lookup_s": "s",
    "snapshot_table.read.plan_s": "s",
    "snapshot_table.read.files_scanned": "count",
    "snapshot_table.read.files_scanned_frac": "ratio",
    "snapshot_table.delta_files_live": "count",
    "write_amp": "ratio",
    "spark.scan.run_s": "s",
    "spark.scan.cpu_s": "s",
    "spark.scan.bytes": "bytes",
    "spark.exchange.write_bytes": "bytes",
    "spark.exchange.read_bytes": "bytes",
    "spark.exchange.bytes_per_event": "bytes",
    "spark.reduce.run_s": "s",
    "spark.task_skew": "ratio",
    "spark.spill_bytes": "bytes",
    "spark.gc_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "self_s.cdc": "s",
    "self_s.streaming.apply": "s",
    "self_s.sinks.snapshot_table": "s",
    "setup.jvm_s": "s",
    "setup.generate_s": "s",
    "setup.warmup_s": "s",
    "setup.base_table_s": "s",
    "process.python_rss_mb": "MB",
    "process.jvm_rss_mb": "MB",
    "host.cpu_probe_before_s": "s",
    "host.cpu_probe_after_s": "s",
    "host.steal_s": "s",
    "trace.op_s_p50": "s",
    "trace.rate_per_s": "1/s",
    "trace.cpu_us_per_event": "us",
    "op_samples": "count",
    "failed_frac": "ratio",
    "scaling.bulk_1v4": "ratio",
}


def start_spark(app: str, cores: int, conf: dict[str, str]):
    from caterpillar_spark.session import get_spark

    return get_spark(app, cores=cores, extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session and wait until the JVM has exited."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def base_conf(run_dir: str) -> dict[str, str]:
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(run_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        # a fixed heap size: a growing heap makes the JVM's peak RSS follow
        # the collector's resizing decisions rather than the workload
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM} -Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }


def layer_metrics(wl, res, tracer, folded, window) -> dict[str, float]:
    """Per-layer numbers of the timed ``window`` (start, end), from the
    spans and the folded event log."""
    out = dict.fromkeys(PER_LAYER, 0.0)
    out.update(res.layers)
    out.update(wl.write_layers())

    for name in (
        "cdc.replay_chunks",
        "cdc.segment_footer_stats",
        "cdc.apply_changes",
        "snapshot_table.merge",
        "snapshot_table.snapshot",
        "snapshot_table.applied_ranges",
        "snapshot_table.current_version",
        "snapshot_table.maintain",
    ):
        out[f"{name}.s"] = median(s.seconds for s in tracer.named(name))

    def calls(name):
        """Each call of ``name`` with the Spark jobs it and its children ran."""
        return [(sp, folded.jobs_tagged(tracer.subtree_tags(sp))) for sp in tracer.named(name)]

    def job_s(sp, jobs):
        return job_union_s(jobs, sp.start, sp.end)

    applies = calls("cdc.apply_changes")
    out["cdc.apply_changes.job_s"] = median(job_s(sp, jobs) for sp, jobs in applies)
    out["cdc.apply_changes.driver_s"] = median(sp.seconds - job_s(sp, jobs) for sp, jobs in applies)
    out["cdc.apply_changes.jobs_outside_s"] = max(
        (job_union_s(jobs) - job_s(sp, jobs) for sp, jobs in applies), default=0.0
    )
    out["cdc.apply_changes.jobs"] = median(len(jobs) for _, jobs in applies)
    out["snapshot_table.merge.driver_s"] = median(
        sp.seconds - job_s(sp, jobs) for sp, jobs in calls("snapshot_table.merge")
    )

    # Spark totals per apply_changes call, the unit operation of both workloads
    per_op = [folded.totals(jobs) for _, jobs in applies]
    for key, metric in (
        ("scan_run_s", "spark.scan.run_s"),
        ("scan_cpu_s", "spark.scan.cpu_s"),
        ("scan_bytes", "spark.scan.bytes"),
        ("exchange_write_bytes", "spark.exchange.write_bytes"),
        ("exchange_read_bytes", "spark.exchange.read_bytes"),
        ("reduce_run_s", "spark.reduce.run_s"),
        ("task_skew", "spark.task_skew"),
        ("spill_bytes", "spark.spill_bytes"),
        ("gc_s", "spark.gc_s"),
        ("stages", "spark.stages"),
        ("tasks", "spark.tasks"),
    ):
        out[metric] = median(t[key] for t in per_op)
    # every job of the window, maintenance and streaming jobs included,
    # per apply_changes call
    out["spark.jobs"] = sum(
        window[0] <= j.start_s <= window[1] for j in folded.jobs.values()
    ) / max(1, len(applies))
    events = sum(sp.attrs["result"].rows_in for sp, _ in applies)
    if events:
        out["spark.exchange.bytes_per_event"] = (
            sum(t["exchange_write_bytes"] for t in per_op) / events
        )

    progress = getattr(wl, "progress", [])
    if progress:
        triggers = [p["durationMs"]["triggerExecution"] / 1000.0 for p in progress]
        out["streaming.trigger_s"] = median(triggers)
        by_batch = {sp.attrs.get("batch_id"): sp for sp in tracer.named("cdc.apply_changes")}
        out["streaming.overhead_s"] = median(
            t - by_batch[p["batchId"]].seconds
            for t, p in zip(triggers, progress)
            if p["batchId"] in by_batch
        )
        # trigger time not covered by the engine calls the batch handler
        # made (apply_changes, maintain): the streaming layer's own time
        out["self_s.streaming.apply"] = sum(triggers) - sum(
            s.seconds for s in tracer.spans if s.parent is None and s.end
        )

    self_s = tracer.self_seconds()
    out["self_s.cdc"] = sum(v for k, v in self_s.items() if k.startswith("cdc."))
    out["self_s.sinks.snapshot_table"] = sum(
        v for k, v in self_s.items() if k.startswith("snapshot_table.")
    )
    return out


def run(args) -> dict:
    sys.path.insert(0, ROOT)
    import hostinfo
    from workloads import SETUP_REPS, WORKLOADS, full_scan_s

    run_dir = os.path.join(
        ROOT, ".perfbench_runs", f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    )
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")

    others = hostinfo.spark_jvms()
    host = hostinfo.host_record(ROOT)
    host["valid"] = not others
    if others:
        print(f"perfbench: run INVALID: other Spark JVMs alive: {others}", file=sys.stderr)
    probe_before = hostinfo.cpu_probe_s()

    conf = base_conf(run_dir)
    if args.trace:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": log_dir,
                "spark.eventLog.rolling.enabled": "true",
                "spark.eventLog.compress": "false",
            }
        )
    t0 = time.perf_counter()
    spark = start_spark(f"perfbench-{args.workload}", CORES, conf)
    jvm_s = time.perf_counter() - t0
    try:
        wl = WORKLOADS[args.workload](spark, run_dir, args.seed)
        reps, digests = [], []
        for r in range(SETUP_REPS):
            rep_dir = os.path.join(run_dir, f"setup-{r}")
            t0 = time.perf_counter()
            log = wl.generate(rep_dir)
            t1 = time.perf_counter()
            wl.build(log, rep_dir)
            reps.append((t1 - t0, time.perf_counter() - t1))
            print(f"perfbench: set-up {r}: generate {reps[-1][0]:.2f}s, build {reps[-1][1]:.2f}s", file=sys.stderr)
            digests.append(log.digest)
            if r < SETUP_REPS - 1:
                shutil.rmtree(rep_dir)
        t0 = time.perf_counter()
        wl.warm_up()
        warmup_s = time.perf_counter() - t0

        tracer = None
        if args.trace:
            from tracing import Tracer

            tracer = Tracer(spark)
        jvm_pid = spark.sparkContext._gateway.proc.pid
        window, steal0 = [time.time()], hostinfo.steal_s()
        cpu0 = hostinfo.cpu_s() + hostinfo.cpu_s(jvm_pid)
        with tracer.installed() if tracer else contextlib.nullcontext():
            res = wl.measure(args.seconds)
        cpu_s = hostinfo.cpu_s() + hostinfo.cpu_s(jvm_pid) - cpu0
        window.append(time.time())
        steal = hostinfo.steal_s() - steal0
        print(f"perfbench: warm-up {warmup_s:.2f}s, measured {window[1] - window[0]:.2f}s", file=sys.stderr)
        scans = []
        while args.trace and (len(scans) < SCANS or sum(scans) < SCAN_S):
            scans.append(full_scan_s(wl.table))
        t0 = time.perf_counter()
        res.check(len(set(digests)) == 1, "set-up repetitions generated different inputs")
        try:
            wl.check(res)
        except Exception as e:  # a crashing check is a failed check
            res.check(False, f"output check raised {e!r}")
        print(f"perfbench: checks {time.perf_counter() - t0:.2f}s", file=sys.stderr)
        python_rss, jvm_rss = hostinfo.vm_hwm_mb(), hostinfo.vm_hwm_mb(jvm_pid)
        rate_4 = res.events / res.busy_s
        scaling = 0.0
        if args.trace and args.workload == "bulk_replay":
            # the same replay on one core, in the same (warm) JVM
            spark.stop()
            spark = start_spark(f"perfbench-{args.workload}-1", 1, base_conf(run_dir))
            wl.spark = spark
            _, _, wall = wl._replay(log.segments, os.path.join(run_dir, "replay-1core"))
            scaling = rate_4 / (log.spec.n_events / wall)
    finally:
        stop_spark(spark)
    probe_after = hostinfo.cpu_probe_s()

    gen = [g for g, _ in reps]
    builds = [b for _, b in reps]
    totals = [g + b for g, b in reps]
    setup_s = jvm_s + median(totals) + warmup_s
    e2e = {
        "setup_s": setup_s,
        "cpu_us_per_event": cpu_s / res.events * 1e6,
        "peak_rss_mb": python_rss + jvm_rss,
    }
    if args.trace:
        layers = layer_metrics(wl, res, tracer, fold(log_dir), window)
        layers.update(
            {
                "snapshot_table.read.scan_s": median(scans),
                "setup.jvm_s": jvm_s,
                "setup.generate_s": median(gen),
                "setup.base_table_s": median(builds),
                # the warm-up pass plus what the first (cold) set-up cost extra
                "setup.warmup_s": warmup_s + totals[0] - median(totals),
                "process.python_rss_mb": python_rss,
                "process.jvm_rss_mb": jvm_rss,
                "host.cpu_probe_before_s": probe_before,
                "host.cpu_probe_after_s": probe_after,
                "host.steal_s": steal,
                "trace.op_s_p50": median(res.op_s),
                "trace.rate_per_s": rate_4,
                "trace.cpu_us_per_event": e2e["cpu_us_per_event"],
                "op_samples": float(len(res.op_s)),
                "failed_frac": res.failed / max(1, res.attempted),
                "scaling.bulk_1v4": scaling,
            }
        )
        metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}

    out = {
        "correct": res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": metrics,
    }
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "host": host,
        "cpu_probe_s": [probe_before, probe_after],
        "steal_s": steal,
        "setup_reps": reps,
        "input_digest": digests[-1],
        "op_s": res.op_s,
        "cpu_s": cpu_s,
        **out,
    }
    rec_dir = os.path.join(ROOT, ".perfbench_runs", "records")
    os.makedirs(rec_dir, exist_ok=True)
    with open(os.path.join(rec_dir, os.path.basename(run_dir) + ".json"), "w") as f:
        json.dump(record, f, indent=1)
    shutil.rmtree(run_dir, ignore_errors=True)
    return out


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", type=int, default=DEFAULT_SEED)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "caterpillar_spark")):
        print(
            f"perfbench: no caterpillar_spark/ package in {ROOT}; run from a full checkout",
            file=sys.stderr,
        )
        return 2
    out = run(args)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
