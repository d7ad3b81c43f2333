"""The N-vs-4N scaling protocol (bench_scaling.py): round loop, efficiency
math and output-identity checks against fake widths, plus one end-to-end
run of the smallest axis."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

import bench_scaling as bs

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _fake_widths(rates: dict[int, list[float]], outputs=lambda cpus: {"n": 7}):
    """A run_at whose k-th call at ``cpus`` reports ``rates[cpus][k]``."""
    calls = {c: 0 for c in rates}

    def run_at(cpus):
        rate = rates[cpus][calls[cpus]]
        calls[cpus] += 1
        return {"cpus": cpus, "sec": round(100 / rate, 3), "rows_per_sec": rate,
                "outputs": outputs(cpus)}

    return run_at


def test_efficiency_is_best_of_width_and_per_round():
    # round 1: 400/100/4 = 1.0; round 2: 350/125/4 = 0.7; best of each
    # width comes from different rounds: 400/125/4 = 0.8
    res = bs.interleave(_fake_widths({1: [100.0, 125.0], 4: [400.0, 350.0]}), 1, 2)
    assert res["per_round_efficiency"] == [1.0, 0.7]
    assert res["scaling_efficiency"] == 0.8
    assert res["passed"] is True
    assert res["local_n"] == {"cpus": 1, "sec": 0.8, "rows_per_sec": 125.0}
    assert res["local_4n"] == {"cpus": 4, "sec": 0.25, "rows_per_sec": 400.0}
    assert res["outputs"] == {"n": 7} and res["outputs_identical"] is True


def test_efficiency_below_criterion_fails_and_n_base_scales():
    res = bs.interleave(_fake_widths({2: [100.0], 8: [300.0]}), 2, 1)
    assert res["scaling_efficiency"] == 0.75
    assert res["passed"] is False
    assert (res["local_n"]["cpus"], res["local_4n"]["cpus"]) == (2, 8)


def test_cross_width_output_mismatch_stops_the_run():
    run_at = _fake_widths({1: [100.0], 4: [400.0]}, outputs=lambda cpus: {"n": cpus})
    with pytest.raises(SystemExit, match="outputs differ across widths"):
        bs.interleave(run_at, 1, 1)


def test_output_mismatch_between_rounds_stops_the_run():
    # the widths agree within each round, but round 2 disagrees with round 1
    outs = iter([{"n": 1}, {"n": 1}, {"n": 2}, {"n": 2}])
    run_at = _fake_widths({1: [100.0, 100.0], 4: [400.0, 400.0]},
                          outputs=lambda cpus: next(outs))
    with pytest.raises(SystemExit, match="outputs differ across widths"):
        bs.interleave(run_at, 1, 2)


def test_best_of_warms_up_guards_each_round_and_keeps_the_fastest():
    calls, guards = [], []

    def run():
        calls.append(1)
        return ("same", [1, 2])

    sec, outputs = bs.best_of(run, lambda: guards.append(len(calls)), rounds=2)
    assert outputs == ("same", [1, 2])
    assert len(calls) == 3  # one warmup + two timed rounds
    assert guards == [1, 2]  # the guard runs before each timed round
    assert 0 <= sec < 1


def test_best_of_fails_when_a_childs_rounds_disagree():
    outs = iter([{"n_pairs": 3}, {"n_pairs": 3}, {"n_pairs": 4}])
    with pytest.raises(SystemExit, match="outputs differ between rounds"):
        bs.best_of(lambda: next(outs), lambda: None, rounds=2)


def test_best_of_propagates_the_cached_plan_guard():
    def guard():
        raise RuntimeError("CacheManager is not empty")

    with pytest.raises(RuntimeError, match="CacheManager"):
        bs.best_of(lambda: 1, guard)


def test_unknown_axis_is_a_usage_error():
    with pytest.raises(SystemExit, match="usage"):
        bs.main(["nope"])


def test_dedup_axis_end_to_end():
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench_scaling.py"), "dedup", "2000", "1", "1"],
        capture_output=True, text=True, check=True,
    )
    res = json.loads(out.stdout.strip().splitlines()[-1])
    assert list(res) == [
        "axis", "n", "local_n", "local_4n", "scaling_efficiency",
        "per_round_efficiency", "outputs", "outputs_identical", "criterion", "passed",
    ]
    assert (res["axis"], res["n"]) == ("dedup", 2000)
    assert (res["local_n"]["cpus"], res["local_4n"]["cpus"]) == (1, 4)
    assert res["outputs_identical"] is True
    # every 100th doc is a planted near-dup of its predecessor
    assert res["outputs"]["n_pairs"] > 0
    assert len(res["per_round_efficiency"]) == 1
