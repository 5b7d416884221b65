"""bench.py's pure-Python helpers (no Spark)."""

from __future__ import annotations


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
