"""Smoke self-test of the benchmark at scale factor 0.001.

    python3 -m pytest perfbench/test_smoke.py -q

Runs each workload once (one untraced, one traced) and checks that the last
stdout line parses, carries exactly the result keys, reports every metric
BENCHMARK.json declares for that mode with its unit, and that every output
check passed. Also checks the refusal in a directory without the engine and
the tail-percentile rule.
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

from run import _tail  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


def _run(cwd: str, *args: str, timeout: float = 300) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=timeout,
    )


@pytest.mark.parametrize("workload,trace", [
    (SPEC["workloads"][0]["name"], 0),
    (SPEC["workloads"][1]["name"], 1),
])
def test_metrics_print_with_units(workload, trace):
    proc = _run(ROOT, "--workload", workload, "--seed", "3", "--seconds", "1",
                "--trace", str(trace),
                "--sf-dir", os.path.join(HERE, "fixtures", "sf0.001"))
    assert proc.returncode == 0, proc.stderr[-4000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0, proc.stderr[-4000:]
    assert isinstance(result["attempted"], int) and result["attempted"] >= 1
    declared = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    got = result["metrics"]
    assert set(got) == {m["name"] for m in declared}
    for m in declared:
        assert got[m["name"]]["unit"] == m["unit"]
        assert isinstance(got[m["name"]]["value"], (int, float))
    if not trace:
        assert all(got[m["name"]]["value"] > 0 for m in declared)


def test_refuses_without_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run(str(tmp_path), "--workload", SPEC["workloads"][0]["name"],
                "--seed", "1", "--seconds", "1", "--trace", "0", timeout=60)
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout


def test_tail_keeps_ten_samples_beyond():
    samples = [float(i) for i in range(1, 41)]
    value, pct = _tail(samples)
    assert pct == 75 and value == 30.0
    assert sum(1 for s in samples if s > value) == 10
    value, pct = _tail([float(i) for i in range(1, 21)])
    assert pct == 50 and value == 10.0
