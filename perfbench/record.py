#!/usr/bin/env python3
"""Record the benchmark: two interleaved sets of ten seeds, and a traced
run per seed.

    python3 perfbench/record.py --out perfbench/baseline/<name>.json

For each seed 1..10 and each workload of BENCHMARK.json, three runs back
to back: an untraced run of set A, a traced run, and an untraced run of
set B; on even seeds A and B swap places. Both sets and the traced runs
thus see the same host speed, and a traced run sits between its two
untraced neighbours.

- Per set and end-to-end metric: the median, the quartiles and the
  spread, (q3 - q1) / median, which the metric's bound is judged
  against; and the change of set B's median over set A's, judged against
  the same bound (a positive change is a change for the worse).
- Tracing overhead, per seed: the traced run's ``cpu_us_per_event`` over
  the mean of its two untraced neighbours', minus 1; reported as the
  median of the ten paired differences, and marked unresolved while its
  size is within the untraced spread.
- Per layer: the median of each metric over the ten traced runs.

Runs are sequential, each in its own process, for BENCHMARK.json's
run_seconds.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SEEDS = range(1, 11)


def run_once(workload: str, seed: int, seconds: int, label: str) -> dict:
    trace = int(label == "traced")
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"),
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(seconds), "--trace", str(trace),
    ]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"{workload} seed {seed} trace {trace}: exit {proc.returncode}")
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    print(workload, seed, label,
          json.dumps({k: round(v["value"], 4) for k, v in out["metrics"].items()
                      if trace == 0 or k.startswith(("trace.", "host.cpu"))}), flush=True)
    return out


def summarise(values: list[float]) -> dict:
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med, "values": values}


def value(run: dict, name: str) -> float:
    return run["metrics"][name]["value"]


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--out")
    args = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    import hostinfo

    seconds = spec["run_seconds"]
    e2e = {m["name"]: m for m in spec["end_to_end"]}
    names = [w["name"] for w in spec["workloads"]]
    runs = {w: {"A": [], "B": [], "traced": []} for w in names}
    report = {
        "run_seconds": seconds,
        "seeds": list(SEEDS),
        "host": hostinfo.host_record(ROOT),
        "cpu_probe_s": hostinfo.cpu_probe_s(),
        "workloads": {},
    }
    for seed in SEEDS:
        first, last = ("A", "B") if seed % 2 else ("B", "A")
        for w in names:
            for label in (first, "traced", last):
                runs[w][label].append(run_once(w, seed, seconds, label))

    for w in names:
        sets, traced = {s: runs[w][s] for s in "AB"}, runs[w]["traced"]
        entry = {
            "why": next(x["why"] for x in spec["workloads"] if x["name"] == w),
            "attempted": sum(r["attempted"] for rs in runs[w].values() for r in rs),
            "failed": sum(r["failed"] for rs in runs[w].values() for r in rs),
            "end_to_end": {},
        }
        for name, m in e2e.items():
            a, b = (summarise([value(r, name) for r in sets[s]]) for s in "AB")
            change = b["median"] / a["median"] - 1
            if m["better"] == "higher":
                change = -change
            entry["end_to_end"][name] = {"A": a, "B": b, "b_over_a": change, "bound": m["bound"]}
            flags = [f"spread {s} {x['spread']:.3f}" for s, x in (("A", a), ("B", b)) if x["spread"] >= m["bound"] / 3]
            if change > m["bound"]:
                flags.append("B worse than A beyond the bound")
            print(
                f"  {w} {name}: median A {a['median']:.4g} B {b['median']:.4g} "
                f"(B/A {change:+.3f}), spread A {a['spread']:.3f} B {b['spread']:.3f} "
                f"(bound {m['bound']})" + (f"  <-- {'; '.join(flags)}" if flags else ""),
                flush=True,
            )

        name = "cpu_us_per_event"
        paired = [
            value(t, "trace." + name) / ((value(a, name) + value(b, name)) / 2) - 1
            for t, a, b in zip(traced, sets["A"], sets["B"])
        ]
        med = statistics.median(paired)
        spread = max(entry["end_to_end"][name][s]["spread"] for s in "AB")
        entry["tracing_overhead"] = {
            "metric": name, "median": med, "paired": paired, "resolved": abs(med) > spread,
        }
        print(f"  {w} tracing overhead ({name}): {med:+.3f}"
              + ("" if abs(med) > spread else " (unresolved)"), flush=True)

        layers = traced[0]["metrics"]
        entry["per_layer"] = {
            k: {"median": statistics.median(value(r, k) for r in traced), "unit": v["unit"]}
            for k, v in layers.items()
        }
        report["workloads"][w] = entry
    if args.out:
        with open(args.out, "w") as f:
            json.dump(report, f, indent=1)
            f.write("\n")


if __name__ == "__main__":
    main()
