"""Tests of the benchmark's pure helpers, plus a tiny-input smoke run of both
workloads.

    python3 -m pytest perfbench -q             # all (the smoke runs take minutes)
    python3 -m pytest perfbench -q -m "not smoke"
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import sys

import pytest

from perfbench import stats

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_median_and_quartiles_match_statistics():
    values = [5.0, 1.0, 4.0, 2.0, 3.0, 9.0, 7.0, 6.0, 8.0, 10.0]
    q1, q2, q3 = stats.quartiles(values)
    assert [q1, q2, q3] == statistics.quantiles(values, n=4)
    assert q2 == stats.median(values) == 5.5
    assert stats.spread(values) == pytest.approx((q3 - q1) / q2)
    assert stats.quartiles([2.0]) == (2.0, 2.0, 2.0)


def test_percentile_is_nearest_rank():
    values = list(range(1, 101))
    assert stats.percentile(values, 50) == 50
    assert stats.percentile(values, 90) == 90
    assert stats.percentile(values, 100) == 100
    assert stats.percentile([3.0], 90) == 3.0


@pytest.mark.parametrize("n, expected", [(10, None), (11, 9), (20, 50), (100, 90), (1000, 99)])
def test_highest_percentile_leaves_ten_samples_beyond(n, expected):
    p = stats.highest_supported_percentile(n)
    assert p == expected
    if p is not None:
        assert n - n * p / 100 >= 10
        assert n - n * (p + 1) / 100 < 10


def test_self_time_subtracts_child_coverage_once():
    parent = (0.0, 10.0)
    assert stats.self_time(parent, []) == 10.0
    assert stats.self_time(parent, [(1.0, 3.0), (5.0, 6.0)]) == pytest.approx(7.0)
    # overlapping children are covered once; a child outside the parent is clipped
    assert stats.self_time(parent, [(1.0, 4.0), (2.0, 5.0), (9.0, 12.0)]) == pytest.approx(5.0)
    assert stats.self_time(parent, [(11.0, 12.0)]) == 10.0
    assert stats.self_time(parent, [(-1.0, 11.0)]) == 0.0


def test_failed_frac():
    assert stats.failed_frac(0, 7) == 0.0
    assert stats.failed_frac(7, 7) == 1.0
    assert stats.failed_frac(1, 4) == 0.25
    with pytest.raises(ValueError):
        stats.failed_frac(0, 0)
    with pytest.raises(ValueError):
        stats.failed_frac(5, 4)


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("data", "__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    r = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "pipeline", "--seed", "1",
                        "--seconds", "1", "--trace", "0"], cwd=tmp_path, capture_output=True,
                       text=True, timeout=60)
    assert r.returncode != 0
    assert r.stdout.strip() == ""


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


@pytest.mark.smoke
@pytest.mark.parametrize("workload", [w["name"] for w in _spec()["workloads"]])
@pytest.mark.parametrize("trace", [0, 1])
def test_tiny_run(workload, trace):
    r = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
                        "--seconds", "1", "--trace", str(trace), "--tiny"], cwd=ROOT,
                       capture_output=True, text=True, timeout=300)
    assert r.returncode == 0, r.stderr[-3000:]
    lines = r.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    spec = _spec()["per_layer" if trace else "end_to_end"]
    assert {m["name"]: m["unit"] for m in spec} == {k: v["unit"] for k, v in result["metrics"].items()}
    host = json.loads(lines[-2])["host"]
    assert host["cores"] >= 1 and host["mem_total_mb"] > 0
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())
