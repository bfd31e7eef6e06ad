"""The N→4N scaling harness without Spark: with no clean calibration
window in its budget it exits 1 and leaves BENCH/BASELINE.md as it was,
and bench.py's calibration stamp still imports its probes."""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools import bench_scaling  # noqa: E402


def test_no_clean_window_exits_1_and_keeps_baseline(monkeypatch, tmp_path):
    cal = tmp_path / "cal_best.json"
    cal.write_text(json.dumps({"cpu": 1.0, "mem": 1.0}))
    md = tmp_path / "BASELINE.md"
    md.write_text("# banked row\n")
    probes = []

    def congested(k=16):
        probes.append(k)
        return 10.0, 10.0  # 10× the best-known capacity

    def no_run(*a, **kw):
        raise AssertionError("measured outside a clean window")

    monkeypatch.setattr(bench_scaling, "calibrate", congested)
    monkeypatch.setattr(bench_scaling, "run_level", no_run)
    monkeypatch.setattr(bench_scaling.time, "sleep", lambda s: None)
    monkeypatch.setattr(bench_scaling, "BUDGET_S", 0.05)
    monkeypatch.setattr(bench_scaling, "CAL_STATE", str(cal))
    monkeypatch.setattr(bench_scaling, "BASELINE_MD", str(md))
    monkeypatch.setattr(sys, "argv", ["bench_scaling.py"])

    assert bench_scaling.main() == 1
    assert md.read_text() == "# banked row\n"
    assert len(probes) >= 2  # the two start-up probes at least
    # a congested reading never lowers the best-known capacity
    assert json.loads(cal.read_text()) == {"cpu": 1.0, "mem": 1.0}


def test_bench_calibration_stamp_imports_probes(monkeypatch, tmp_path):
    """bench.py turns any failure inside its stamp into {"error": ...};
    a broken import of the harness's probes must fail here instead."""
    import bench

    cal = tmp_path / "cal_best.json"
    cal.write_text(json.dumps({"cpu": 2.0, "mem": 0.5}))
    monkeypatch.setattr(bench_scaling, "calibrate", lambda k=16: (3.0, 0.25))
    monkeypatch.setattr(bench_scaling, "CAL_STATE", str(cal))

    assert bench._calibration_stamp() == {
        "cpu_s": 3.0, "mem_s": 0.25, "cpu_best_s": 2.0, "mem_best_s": 0.25,
    }
