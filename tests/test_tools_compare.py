"""Unit coverage for tools/bench_compare.py's adjudication math — the
normalization rule is now load-bearing (BASELINE.md standing rule), so
its arithmetic and file-shape detection get pinned here. No Spark."""

from __future__ import annotations

import importlib.util
import json
import subprocess
import sys
from pathlib import Path

import pytest

TOOLS = Path(__file__).resolve().parent.parent / "tools"


def _mod():
    spec = importlib.util.spec_from_file_location(
        "bench_compare", TOOLS / "bench_compare.py"
    )
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)
    return m


def test_series_and_probe_detection():
    m = _mod()
    detail = {
        "queries": {"q1": 2.0},
        "queries_median": {"q1": 1.5},
        "cpu_probe": {"single_s": 2.0, "procs32_s": 4.0},
    }
    # _series returns (values, label-actually-used) since round 14 so an
    # adjudication records which leg it compared
    assert m._series(detail, "median", "sf1") == ({"q1": 1.5}, "median")
    assert m._series(detail, "single", "sf1") == ({"q1": 2.0}, "single")
    assert m._probe(detail) == 4.0
    sf1 = {"queries": {"q1": {"sf0.1_sec": 1.0, "sf1_sec": 7.0, "ratio": 7.0}}}
    assert m._series(sf1, "median", "sf1") == ({"q1": 7.0}, "sf1-leg:sf1_sec")
    assert m._series(sf1, "median", "sf0.1") == (
        {"q1": 1.0}, "sf1-leg:sf0.1_sec"
    )
    assert m._probe(sf1) is None
    # a median request against a file with no recorded median falls back
    # to the single series AND SAYS SO in the label
    single_only = {"queries": {"q1": 2.0}}
    assert m._series(single_only, "median", "sf1") == (
        {"q1": 2.0}, "single (no median recorded)"
    )


def test_driver_wrapper_unwraps_parsed(tmp_path):
    m = _mod()
    p = tmp_path / "BENCH_rN.json"
    p.write_text(json.dumps(
        {"parsed": {"queries": {"q1": 3.0}}, "tail": "...", "rc": 0}
    ))
    d = m._load(str(p))
    assert d["queries"] == {"q1": 3.0}


def test_normalization_divides_out_box_speed(tmp_path):
    """A recording 1.5x slower on a box the probe says is 1.5x slower
    must normalize to 1.000x — the whole point of the rule."""
    old = {
        "queries": {"q1": 2.0, "q2": 4.0},
        "queries_median": {"q1": 2.0, "q2": 4.0},
        "cpu_probe": {"single_s": 1.0, "procs32_s": 2.0},
    }
    new = {
        "queries": {"q1": 3.0, "q2": 6.0},
        "queries_median": {"q1": 3.0, "q2": 6.0},
        "cpu_probe": {"single_s": 1.5, "procs32_s": 3.0},
    }
    pa, pb = tmp_path / "a.json", tmp_path / "b.json"
    pa.write_text(json.dumps(old))
    pb.write_text(json.dumps(new))
    out = tmp_path / "cmp.json"
    r = subprocess.run(
        [sys.executable, str(TOOLS / "bench_compare.py"),
         str(pa), str(pb), "--json", str(out)],
        capture_output=True, text=True,
    )
    assert r.returncode == 0, r.stderr
    got = json.loads(out.read_text())
    s = got["summary"]
    assert s["normalized"] is True
    assert s["probe_ratio"] == 1.5
    assert s["total_raw_ratio"] == 1.5
    assert s["total_norm_ratio"] == 1.0
    assert s["movers_beyond_band"] == []  # normalized away
    per = {q["query"]: q for q in got["queries"]}
    assert per["q1"]["norm_ratio"] == 1.0
    assert per["q2"]["norm_ratio"] == 1.0


def test_unnormalized_flag_and_movers(tmp_path):
    old = {"queries_median": {"q1": 1.0, "q2": 1.0}, "queries": {}}
    new = {"queries_median": {"q1": 1.0, "q2": 2.0}, "queries": {}}
    pa, pb = tmp_path / "a.json", tmp_path / "b.json"
    pa.write_text(json.dumps(old))
    pb.write_text(json.dumps(new))
    out = tmp_path / "cmp.json"
    subprocess.run(
        [sys.executable, str(TOOLS / "bench_compare.py"),
         str(pa), str(pb), "--json", str(out)],
        capture_output=True, text=True, check=True,
    )
    s = json.loads(out.read_text())["summary"]
    assert s["normalized"] is False
    assert [m["query"] for m in s["movers_beyond_band"]] == ["q2"]
    assert s["movers_beyond_band"][0]["norm_ratio"] is None


def test_interleaved_aggregate_tolerates_missing_queries_and_keeps_errors():
    spec = importlib.util.spec_from_file_location(
        "interleaved_ab", TOOLS / "interleaved_ab.py"
    )
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)
    runs = [
        {"queries": {"q1": 1.0, "q2": 3.0}, "errors": {"q9": "boom A"}},
        {"errors": {"q9": "boom B"}},  # a run whose detail lacks queries
        {"queries": {"q1": 2.0}, "errors": {"q9": "boom C"}},
    ]
    agg = m.aggregate(runs)
    assert agg["queries_median"] == {"q1": 1.5, "q2": 3.0}
    assert agg["per_run_totals"] == [4.0, 0, 2.0]
    # every run's failure survives, keyed by run index
    assert agg["errors"] == {
        "run0:q9": "boom A", "run1:q9": "boom B", "run2:q9": "boom C",
    }


def test_interleaved_perfbench_summary_medians_quartiles_and_wins():
    spec = importlib.util.spec_from_file_location(
        "interleaved_ab", TOOLS / "interleaved_ab.py"
    )
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)

    def run(round_s, setup_s, correct=True, failed=0):
        return {"correct": correct, "attempted": 2, "failed": failed,
                "metrics": {"round_s.p50": {"value": round_s, "unit": "s"},
                            "setup_s": {"value": setup_s, "unit": "s"}}}

    pairs = [
        (run(7.0, 20.0), run(5.0, 19.0)),
        (run(7.2, 19.0), run(5.5, 19.5)),
        (run(7.4, 21.0), run(7.6, 21.0, correct=False, failed=1)),
        (run(7.6, 18.0), run(5.2, 18.5)),
        # a run that printed no result line leaves the metric out
        (run(7.1, 20.0), {"correct": False, "attempted": 0, "failed": 0,
                          "metrics": {}}),
    ]
    s = m.summarize_perfbench(
        pairs, {"round_s.p50": "lower", "setup_s": "lower"}
    )
    r = s["metrics"]["round_s.p50"]
    assert r["n"] == 4
    assert r["a"] == pytest.approx({"median": 7.3, "q1": 7.15, "q3": 7.45})
    assert r["b"]["median"] == pytest.approx(5.35)
    assert (r["b_wins"], r["b_win_frac"]) == (3, 0.75)
    assert r["b_better_beyond_a_iqr"] is True  # 1.95 > 0.3
    st = s["metrics"]["setup_s"]
    assert (st["a"]["median"], st["b"]["median"]) == (19.5, 19.25)
    assert st["b_wins"] == 1  # the tie at 21.0 is no win
    assert st["b_better_beyond_a_iqr"] is False
    assert s["a"] == {"incorrect_runs": 0, "failed_frac": 0.0}
    assert s["b"] == {"incorrect_runs": 2, "failed_frac": 0.125}


def test_ab_queries_alternates_which_checkout_runs_first(monkeypatch):
    spec = importlib.util.spec_from_file_location(
        "ab_queries", TOOLS / "ab_queries.py"
    )
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)
    calls = []

    def fake_profile(root, sf_dir, names):
        calls.append(root.name)
        return {"_wall": 0.0, **{n: {"total_s": 1.0} for n in names}}

    monkeypatch.setattr(m, "run_profile", fake_profile)
    monkeypatch.setattr(sys, "argv", [
        "ab_queries.py", "--a", "/ckout/A", "--b", "/ckout/B",
        "--rounds", "2", "q01",
    ])
    m.main()
    assert calls == ["A", "B", "B", "A"]
