"""Self-test of the benchmark. It starts Spark six times on tiny inputs
(about three minutes on four cores):

    python3 -m pytest -q e2ebench/test_run.py
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def _units(metrics: list[dict]) -> dict[str, str]:
    return {m["name"]: m["unit"] for m in metrics}


def bench(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "e2ebench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )


def small_run(workload: str, trace: int, inject: str) -> dict:
    p = bench(ROOT, "--workload", workload, "--seed", "3", "--seconds", "1",
              "--trace", str(trace), "--inject", inject, "--small")
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    return result


@pytest.mark.parametrize("workload", WORKLOADS)
def test_corrupted_row_makes_run_incorrect(workload):
    result = small_run(workload, 0, "corrupt")
    printed = {k: v["unit"] for k, v in result["metrics"].items()}
    assert printed == _units(SPEC["end_to_end"])
    assert result["correct"] is False
    assert result["metrics"]["output_match_rate"]["value"] < 1.0


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_run_counts_failed_op(workload):
    result = small_run(workload, 1, "fail")
    printed = {k: v["unit"] for k, v in result["metrics"].items()}
    assert printed == _units(SPEC["per_layer"])
    assert result["failed"] == 1
    assert result["attempted"] >= 3
    # the other ops' outputs still match the oracle
    assert result["correct"] is True


def test_fails_without_the_program():
    bare = os.path.join(ROOT, ".bench_work", f"bare-{os.getpid()}")
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "e2ebench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        p = bench(bare, "--workload", WORKLOADS[0], "--seed", "1",
                  "--seconds", "1", "--trace", "0")
    finally:
        shutil.rmtree(bare)
        with contextlib.suppress(OSError):  # other runs may still use it
            os.rmdir(os.path.dirname(bare))
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
