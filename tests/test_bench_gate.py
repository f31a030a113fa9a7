"""bench.py helpers: trimmed-spread semantics and the --gate
tail-latency guard (prior median + 2x combined spread, the judge's
real-regression convention). Pure functions — no Spark session."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import _spread, gate  # noqa: E402


def test_spread_plain_range_up_to_three_samples():
    assert _spread([1.0, 1.5]) == 0.5
    assert _spread([1.0, 2.0, 1.2]) == 1.0


def test_spread_trims_extreme_pair_beyond_three():
    # 4 samples: middle 2 only (the ADVICE case — was untrimmed)
    assert _spread([1.0, 1.1, 1.2, 9.0]) == 0.1
    # 5 samples: middle 3
    assert _spread([0.1, 1.0, 1.1, 1.3, 9.0]) == 0.3


def _result(queries, spread):
    return {"queries": queries, "spread": spread}


def test_gate_passes_within_combined_spread():
    prior = _result({"q1": 1.0}, {"q1": 0.05})
    cur = _result({"q1": 1.15}, {"q1": 0.05})
    # allowed = 1.0 + 2*(0.05+0.05) = 1.2
    assert gate(cur, prior) == []


def test_gate_fails_beyond_combined_spread():
    prior = _result({"q1": 1.0}, {"q1": 0.05})
    cur = _result({"q1": 1.25}, {"q1": 0.05})
    fails = gate(cur, prior)
    assert len(fails) == 1 and fails[0].startswith("q1:")


def test_gate_skips_unshared_queries():
    prior = _result({"q_old": 1.0}, {"q_old": 0.0})
    cur = _result({"q_new": 99.0}, {"q_new": 0.0})
    assert gate(cur, prior) == []


def test_gate_missing_spread_defaults_to_zero():
    prior = _result({"q1": 1.0}, {})
    cur = _result({"q1": 1.0001}, {})
    assert gate(cur, prior) == [
        "q1: median 1.0001s > allowed 1.0000s (prior 1.0000s, "
        "combined spread 0.0000s)"
    ]


def test_gate_survives_popped_spread_dict():
    """main() pops the whole "spread" key when the line overflows the
    recorder tail; gate() must still produce a verdict in that degraded
    path (round-10 advice: was result["spread"] → KeyError)."""
    prior = _result({"q1": 1.0}, {"q1": 0.05})
    cur = {"queries": {"q1": 1.05}}  # no "spread" key at all
    assert gate(cur, prior) == []
    cur_bad = {"queries": {"q1": 1.25}}
    fails = gate(cur_bad, prior)
    assert len(fails) == 1 and fails[0].startswith("q1:")


def test_parse_args_strict():
    import pytest

    from bench import parse_args

    assert parse_args([]) == (None, None, None)
    assert parse_args(["--gate", "B.json"]) == ("B.json", None, None)
    # the round-13 scaling leg
    assert parse_args(["--sf-dir", "/d"]) == (None, "/d", None)
    assert parse_args(["--sf-dir", "/d", "--runs", "3"]) == (None, "/d", 3)
    for bad in (
        ["--gate=B.json"],          # equals form
        ["--gate"],                 # missing file
        ["--gate", "B.json", "x"],  # trailing token
        ["--gat", "B.json"],        # typo
        ["B.json"],                 # bare positional
        ["--sf-dir"],               # missing dir
        ["--sf-dir", "/d", "--runs"],        # missing N
        ["--sf-dir", "/d", "--runs", "0"],   # non-positive N
        ["--sf-dir", "/d", "--runs", "x"],   # non-numeric N
        ["--gate", "B.json", "--sf-dir", "/d"],  # gate+sf-dir combo
    ):
        with pytest.raises(SystemExit) as exc:
            parse_args(bad)
        assert exc.value.code == 2


def test_resolve_prior_unwraps_and_refuses_null_parsed():
    import pytest

    from bench import resolve_prior

    line = {"queries": {"q": 1.0}, "spread": {"q": 0.1}, "force": "noop"}
    # driver-recorded wrapper
    assert resolve_prior({"parsed": line, "tail": "..."}, "f")["queries"] == {
        "q": 1.0
    }
    # bare bench line
    assert resolve_prior(line, "f") is line
    # parsed: null (the BENCH_r09 overflow) must hard-error, not
    # gate vacuously
    with pytest.raises(SystemExit) as exc:
        resolve_prior({"parsed": None, "tail": "trunc"}, "f")
    assert exc.value.code == 2


def test_resolve_prior_refuses_prior_not_noop_forced():
    """A count()-forced prior (every BENCH_r01-r14 recording) timed
    Catalyst-pruned plans: gating a noop-forced run against it would
    compare different work, so --gate refuses it outright."""
    import pytest

    from bench import resolve_prior

    timings = {"queries": {"q": 1.0}, "spread": {"q": 0.1}}
    for prior in (
        timings,                                   # no force field
        {**timings, "force": "count"},             # forced another way
        {"parsed": timings, "tail": "..."},        # driver-recorded
    ):
        with pytest.raises(SystemExit) as exc:
            resolve_prior(prior, "f")
        assert exc.value.code == 2


def test_bench_line_fits_driver_tail():
    """The driver records only the last 2000 chars of bench output; the
    serialized result line for the CURRENT headline set must leave
    headroom (run_bench's shape simulated with 4-dp medians / 3-dp
    spreads — the real guard in main() drops spread past 1900)."""
    import json

    from usgs_earthquake_data_pipeline_spark.plans.catalog import CATALOG

    names = [e.name for e in CATALOG.values() if e.headline]
    simulated = {
        "metric": "headline_queries_total",
        "value": 12.3456,
        "unit": "sec",
        "queries": {n: 12.3456 for n in names},
        "spread": {n: 0.123 for n in names},
        "runs": 5,
        "aggregation": "median",
        "force": "noop",
        "sf": 0.1,
        "load": [32.12, 32.12],
    }
    assert len(json.dumps(simulated)) <= 1900, (
        f"{len(names)} headliners overflow the driver tail; trim the "
        "emitted keys or the headline set"
    )


def test_gate_retry_settles_one_noisy_sample(monkeypatch):
    """The one-retry protocol (round 12): inject one 3x timing into the
    first pass; the retry returns a clean measurement and the gate must
    pass, with the settled median recorded on the line."""
    import bench

    prior = _result({"q1": 1.0, "q2": 2.0}, {"q1": 0.05, "q2": 0.05})
    cur = {
        "queries": {"q1": 3.0, "q2": 2.02},  # q1 caught a box stall
        "spread": {"q1": 0.05, "q2": 0.05},
        "value": 5.02,
        "load": [0.1, 9.0],  # load rose: the draining-box signature
    }
    calls = []

    def fake_run_bench(sf_dir, only=None):
        calls.append(only)
        assert only == {"q1"}  # only the flagged query re-measures
        return {"queries": {"q1": 0.98}, "spread": {"q1": 0.03}}

    monkeypatch.setattr(bench, "run_bench", fake_run_bench)
    failures = bench.gate_with_retry(cur, prior, "/ignored")
    assert failures == []
    assert calls == [{"q1"}]
    assert cur["queries"]["q1"] == 0.98 and cur["spread"]["q1"] == 0.03
    assert cur["retried"] == ["q1"]
    assert cur["value"] == 3.0  # total recomputed from settled medians


def test_gate_retry_fails_only_on_second_flag(monkeypatch):
    """A query that regresses on BOTH passes is a real regression."""
    import bench

    prior = _result({"q1": 1.0}, {"q1": 0.05})
    cur = {"queries": {"q1": 3.0}, "spread": {"q1": 0.05}, "value": 3.0}

    monkeypatch.setattr(
        bench,
        "run_bench",
        lambda sf_dir, only=None: {
            "queries": {"q1": 2.9},
            "spread": {"q1": 0.04},
        },
    )
    failures = bench.gate_with_retry(cur, prior, "/ignored")
    assert len(failures) == 1 and failures[0].startswith("q1:")
    assert cur["retried"] == ["q1"]  # the settled (still-bad) number


def test_gate_retry_skipped_when_clean(monkeypatch):
    """No first-pass flag -> no second bench run at all."""
    import bench

    prior = _result({"q1": 1.0}, {"q1": 0.05})
    cur = {"queries": {"q1": 1.05}, "spread": {"q1": 0.05}, "value": 1.05}

    def boom(sf_dir, only=None):
        raise AssertionError("retry must not run on a clean pass")

    monkeypatch.setattr(bench, "run_bench", boom)
    assert bench.gate_with_retry(cur, prior, "/ignored") == []
    assert "retried" not in cur
