"""Unit tests for the scaling-harness gate math (pure Python — no Spark).

The gate rules decide which benchmark rounds count as evidence for the
north rule's >=0.8 N->4N criterion, so they get the same regression
coverage as engine code: the probe reference must resist BOTH failure
modes measured on this host (the idle-host first-probe spike that
poisoned the all-time-max rule, and the majority-throttled record that
would poison a bare median).
"""

from __future__ import annotations

import sys

sys.path.insert(0, "/root/repo/tools")

from regate import regate  # noqa: E402
from run_scaling import _probe_reference  # noqa: E402


def test_probe_reference_resists_idle_spike():
    # one unrepeatable idle-host spike (3500) over a 2000-2400 steady
    # state: the reference must track the steady state, not the spike
    probes = [[3500.0, 2100.0]] + [[2200.0, 2300.0]] * 6
    ref = _probe_reference(probes)
    assert ref < 2400  # 0.7*ref < 1680 would reject nothing healthy
    # the old rule (max) would demand 0.7*3500 = 2450 > every loaded round
    assert 0.7 * ref < 2200


def test_probe_reference_floor_resists_majority_throttle():
    # record throttled for most rounds: median tracks the cap (1000) and
    # a bare median would admit every depressed round; the 0.6x-max floor
    # keeps the bar anchored to true capacity seen early
    probes = [[2500.0, 2400.0]] + [[1000.0, 980.0]] * 8
    ref = _probe_reference(probes)
    assert ref >= 0.6 * 2500
    assert 0.7 * ref > 1000  # depressed rounds stay excluded


def test_regate_admits_clean_and_excludes_depressed():
    rec = {
        "host_probes": [[3500, 2100], [2300, 2250], [900, 950], [2280, 2320]],
        "canary_ratios": [
            {"1": 1.01, "4": 1.05},   # clean + healthy
            {"1": 1.02, "4": 1.03},   # clean + healthy
            {"1": 1.01, "4": 1.02},   # clean but deep-throttled
            {"1": 1.30, "4": 1.40},   # healthy but canary-dirty
        ],
        "pair_efficiencies": [0.83, 0.81, 0.55, 0.90],
        "healthy_frac": 0.7,
        "canary_ratio_threshold": 1.1,
        "timestamp": "t", "events": 1, "chunks": 1,
    }
    out = regate(rec)
    assert out["gate_rounds_robust"] == [0, 1]
    assert out["gate_median_robust"] == 0.82
    # the depressed round is excluded by probe health, not by outcome
    assert "2" not in {str(i) for i in out["gate_rounds_robust"]}
    # the dirty round is excluded by the canary even though probes are fine
    assert 3 not in out["canary_clean_rounds"]


def test_regate_skips_early_format_records():
    assert regate({"timestamp": "t"}) is None


def test_bench_regression_gate_fires_and_stays_silent(tmp_path, monkeypatch):
    """bench.py's regression gate reads the ``parsed`` results of the
    newest prior round that ran on the same cores and scale: a 2x slower
    query fires, smaller drift doesn't, a newer round on other cores is
    ignored, and a run with no matching prior reports none."""
    import json

    import bench

    def record(name, cores, sf, queries):
        rec = {"parsed": {"cores": cores, "sf": sf, "queries": queries}}
        (tmp_path / name).write_text(json.dumps(rec))

    monkeypatch.setattr(bench.os.path, "dirname", lambda p: str(tmp_path))
    record("BENCH_r04.json", "4", 0.1, {"q_fast": 9.0})
    record("BENCH_r05.json", "4", 0.1, {"q_fast": 1.0, "q_slow": 2.0, "q_new": None})
    record("BENCH_r06.json", "32", 0.1, {"q_fast": 0.1, "q_slow": 0.1})
    record("BENCH_r07.json", "4", 1.0, {"q_fast": 0.1, "q_slow": 0.1})

    name, hits = bench._regression_gate(
        {"q_fast": 2.0, "q_slow": 2.2, "q_extra": 9.9}, "4", 0.1
    )
    assert name == "BENCH_r05.json"
    assert hits == {"q_fast": [1.0, 2.0]}  # 2x fires; 1.1x doesn't

    name2, hits2 = bench._regression_gate({"q_fast": 99.0}, "8", 0.1)
    assert name2 is None and hits2 == {}
