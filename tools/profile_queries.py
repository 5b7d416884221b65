"""Per-query isolation profiler for the optimization rounds (guide §1).

NOT the driver bench (bench.py is frozen): this tool times each headline
query in isolation with the same ``.count()`` methodology bench.py uses,
optionally captures ``explain("formatted")`` to ``plans/<tag>/``, and can
time the full-materialization noop sink for comparison.

Usage:
    python tools/profile_queries.py [--sf DIR] [--passes N] [--plans TAG]
        [--noop] [query ...]

``--sf`` defaults to ``$SPARK_GRAFT_SF_DIR``, else bench.py's default
(sf0.1); the session's cores to ``$SPARK_GRAFT_CPUS``, else every CPU.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from caterpillar_spark.session import get_spark  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="*")
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--passes", type=int, default=3)
    ap.add_argument("--plans", default=None, help="write explain output to plans/<TAG>/<q>_<suffix>.txt")
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--noop", action="store_true", help="also time a noop-sink write (full materialization)")
    args = ap.parse_args()

    import bench as benchmod
    import __spark_entry__ as entrymod

    cores = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 1)
    benchmod.pin_cores(cores)
    spark = get_spark("caterpillar-profile", cores=cores)
    qs = entrymod.queries()
    names = args.queries or benchmod.BENCH_QUERIES

    # same JVM warm-up discipline as bench.py
    qs[names[0]](spark, args.sf).count()

    plans_dir = None
    if args.plans:
        plans_dir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", args.plans)
        os.makedirs(plans_dir, exist_ok=True)

    out: dict[str, dict] = {}
    samples: dict[str, list[float]] = {n: [] for n in names}
    noop_samples: dict[str, list[float]] = {n: [] for n in names}
    for p in range(args.passes):
        for name in names:
            spark.sparkContext.setJobDescription(f"profile:{name}:pass{p}")
            t0 = time.time()
            df = qs[name](spark, args.sf)
            df.count()
            samples[name].append(time.time() - t0)
            if args.noop:
                t0 = time.time()
                qs[name](spark, args.sf).write.format("noop").mode("overwrite").save()
                noop_samples[name].append(time.time() - t0)
    spark.sparkContext.setJobDescription(None)

    for name in names:
        ts = sorted(samples[name])
        rec = {"median": round(ts[len(ts) // 2], 3), "samples": [round(t, 3) for t in samples[name]]}
        if args.noop:
            ns = sorted(noop_samples[name])
            rec["noop_median"] = round(ns[len(ns) // 2], 3)
        out[name] = rec
        if plans_dir:
            df = qs[name](spark, args.sf)
            with open(os.path.join(plans_dir, f"{name}_{args.suffix}.txt"), "w") as f:
                f.write(df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted"))

    print(json.dumps({"sf": args.sf, "cores": cores, "passes": args.passes, "queries": out}, indent=1))


if __name__ == "__main__":
    main()
