"""The benchmark's own tests: a short run of every workload on the
sf0.001 fixture, untraced and traced, must print exactly the metric
names BENCHMARK.json declares and answer every call correctly.

    python3 -m pytest perfbench/test_perfbench.py -q

Run from the repository root; each case starts a Spark session, so
the six cases take a few minutes on 4 cores.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def _run(workload: str, trace: int) -> tuple[dict, dict]:
    proc = subprocess.run(
        [*SPEC["command"], "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--sf", "0.001"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-2])["record"], json.loads(lines[-1])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_short_run_is_correct_and_complete(workload, trace):
    record, result = _run(workload, trace)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    group = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in group}
    for m in group:
        assert result["metrics"][m["name"]]["unit"] == m["unit"]
    assert record["failures"] == []
    assert record["failed_frac"] == 0
    assert result["failed"] == 0 and result["correct"] is True
    assert result["attempted"] == record["requests"] >= 2
    for fact in ("cpus", "spark_version", "fixture", "scale_factor", "seed"):
        assert fact in record


def test_refuses_to_run_without_the_engine(tmp_path):
    """In a directory without the engine package the benchmark exits
    non-zero and prints no result."""
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
         "--workload", "lake_sql", "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
