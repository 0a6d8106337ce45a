"""Smoke tests for the benchmark: every workload at a tiny size, untraced
and traced, run as the benchmark command from outside the repository.

    python3 -m pytest perfbench/tests -q

Each case starts its own Spark session (about a minute each on 4 cores).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

BENCH_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH_DIR)
RUN = os.path.join(BENCH_DIR, "run.py")


def _declared(kind: str) -> set:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"] for m in json.load(fh)[kind]}


def _run(args, cwd, env=None):
    return subprocess.run(
        [sys.executable, *args], cwd=cwd, env=env, capture_output=True, text=True,
        timeout=900,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", ["build_full", "incremental_delta"])
def test_workload_runs_and_checks_its_outputs(workload, trace, tmp_path):
    proc = _run(
        [RUN, "--workload", workload, "--seed", "3", "--seconds", "1",
         "--trace", str(trace), "--files", "50"],
        cwd=tmp_path,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 2
    metrics = result["metrics"]
    assert set(metrics) == _declared("per_layer" if trace else "end_to_end")
    assert all(isinstance(m["value"], (int, float)) and m["unit"] for m in metrics.values())
    if trace:
        op_s = metrics["trace.op_s"]["value"]
        assert abs(metrics["trace.self_sum_s"]["value"] - op_s) <= 0.1 * op_s
        assert metrics["search.requests"]["value"] >= 1
    else:
        assert all(m["value"] > 0 for m in metrics.values())


def test_fails_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH_DIR, tmp_path / "perfbench")
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = _run(
        ["perfbench/run.py", "--workload", "build_full", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, env=env,
    )
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
