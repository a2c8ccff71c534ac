"""Tests of the benchmark itself; they take several minutes.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)


def _run(workload: str, seed: int, trace: int, cwd: str = ROOT):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", str(trace)],
        cwd=cwd, capture_output=True, text=True, timeout=400)


def _lines(proc) -> list[dict]:
    assert proc.returncode == 0, proc.stderr[-3000:]
    return [json.loads(line) for line in proc.stdout.splitlines()
            if line.startswith("{")]


@pytest.fixture(scope="module")
def traced_batch():
    return [_lines(_run("batch_iterative", 5, 1)) for _ in range(2)]


def test_exact_counters_repeat(traced_batch):
    (*_, a), (*_, b) = traced_batch
    assert a["correct"] and b["correct"]
    exact = traced_batch[0][1]["exact_counters"]
    assert exact
    for name in exact:
        assert a["metrics"][name]["value"] == b["metrics"][name]["value"], name


def test_batch_layers_cover_wall_time(traced_batch):
    profile_path = os.path.join(ROOT, traced_batch[1][2]["profile"])
    with open(profile_path) as fh:
        queries = json.load(fh)["result"]["queries"]
    for q in queries:
        layers, wall = q["layers"], q["end"] - q["start"]
        parts = (layers["queries.build_s"] + layers["operators.exec_s"]
                 + sum(layers[f"plans.{p}_s"] for p in
                       ("analysis", "optimization", "planning")))
        assert abs(parts - wall) <= 0.1 * wall, q["query"]
    metrics = traced_batch[1][-1]["metrics"]
    total = traced_batch[1][1]["report"]["batch_total_s"]["value"]
    assert metrics["queries.build_s"]["value"] > 0.5 * total


def test_expected_matches_oracle():
    from batch import EXPECTED, oracle_results

    with open(EXPECTED) as fh:
        assert oracle_results() == json.load(fh)


def test_refuses_without_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run("batch_iterative", 1, 0, cwd=str(tmp_path))
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
