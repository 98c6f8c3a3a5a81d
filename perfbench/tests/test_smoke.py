"""Smoke test of the benchmark itself, at the tiny input size.

    python3 -m pytest perfbench/tests -q

Every workload must print every metric BENCHMARK.json names, with its
unit, and report no failed operation; corrupting one output row
(``--mutate``) must make the check fail. Takes a few minutes: each run
starts its own Spark JVM.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
    SPEC = json.load(fh)
LISTED = [w["name"] for w in SPEC["workloads"]]
ALL = sorted(set(LISTED) | {"batch_resolve", "stream_link"})


def _run(workload, *extra, seed=5):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", "1", "--size", "tiny", *extra],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def _assert_metrics(result, kind):
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["attempted"] >= 1
    for m in SPEC[kind]:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], float), m["name"]
    assert set(result["metrics"]) == {m["name"] for m in SPEC[kind]}


@pytest.mark.parametrize("workload", ALL)
def test_measured_run_is_correct_and_complete(workload):
    result = _run(workload)
    _assert_metrics(result, "end_to_end")
    assert result["correct"] and result["failed"] == 0
    assert result["metrics"]["ok_rate"]["value"] == 1.0


@pytest.mark.parametrize("workload", ALL)
def test_mutation_is_caught(workload):
    result = _run(workload, "--mutate")
    assert result["failed"] >= 1 and not result["correct"]
    assert result["metrics"]["ok_rate"]["value"] < 1.0


@pytest.mark.parametrize("workload", LISTED)
def test_traced_run_writes_spans(workload):
    result = _run(workload, "--trace", "1", seed=6)
    _assert_metrics(result, "per_layer")
    assert result["correct"]
    with open(os.path.join(ROOT, "perfbench", "results", f"trace-{workload}-s6.json"),
              encoding="utf-8") as fh:
        trace = json.load(fh)
    spans = trace["spans"]
    assert spans and len({s["run"] for s in spans}) == 1
    assert all(s["end"] >= s["start"] for s in spans)
    assert "trace.overhead_s" in trace["metrics"]


def test_missing_engine_fails_fast(tmp_path):
    """With only BENCHMARK.json and perfbench/ present, the benchmark
    exits non-zero without printing a result."""
    import shutil

    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("results", "__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", LISTED[0], "--seed", "1",
         "--seconds", "1"], cwd=tmp_path, capture_output=True, text=True, timeout=180)
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout


def test_reference_assignment_matches_brute_force():
    """The CEAF-e reference's assignment solver against enumeration."""
    import itertools

    import numpy as np

    from perfbench.reference import _max_assignment

    rng = np.random.default_rng(0)
    for shape in [(1, 1), (2, 3), (3, 2), (4, 4), (3, 5), (5, 4)]:
        s = rng.random(shape) * (rng.random(shape) < 0.6)
        n, m = shape
        best = max(
            sum(s[i, p[i]] for i in range(n)) if n <= m else sum(s[p[j], j] for j in range(m))
            for p in itertools.permutations(range(max(n, m)), min(n, m))
        )
        assert abs(_max_assignment(s) - best) < 1e-12
