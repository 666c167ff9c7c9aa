"""Tiny end-to-end runs of every workload, traced and untraced.

Each run starts its own Spark, so this file takes a few minutes:

    python3 -m pytest sketchbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess

import pytest

from sketchbench import oracles

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)


def _run(cwd: str, workload: str, trace: int, size: str = "tiny") -> subprocess.CompletedProcess:
    cmd = BENCH["command"] + ["--workload", workload, "--seed", "7", "--seconds", "1",
                              "--trace", str(trace), "--size", size]
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    return subprocess.run(cmd, cwd=cwd, env=env, capture_output=True, text=True, timeout=300)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_tiny_run_passes_its_checks(workload, trace):
    p = _run(ROOT, workload, trace)
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 2
    declared = BENCH["per_layer"] if trace else BENCH["end_to_end"]
    assert {m["name"]: m["unit"] for m in declared} == {
        n: m["unit"] for n, m in result["metrics"].items()}
    artifact = json.loads(lines[-2])
    assert artifact["metrics"]["failed_ops"]["value"] == 0
    assert artifact["metrics"]["max_err_ratio"]["value"] <= 1 + oracles.RATIO_SLACK
    assert artifact["host"]["granted_cpus"] >= 1
    if trace:
        assert result["metrics"]["spark.tasks"]["value"] > 0
    else:
        assert all(m["value"] > 0 for m in result["metrics"].values())


def test_bare_directory_fails_without_result(tmp_path):
    """With only BENCHMARK.json and the benchmark's files, there is no
    library to build: the run must fail and print no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for path in BENCH["paths"]:
        shutil.copytree(os.path.join(ROOT, path), tmp_path / path,
                        ignore=shutil.ignore_patterns(".work", "__pycache__"))
    p = _run(str(tmp_path), BENCH["workloads"][0]["name"], 0)
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
