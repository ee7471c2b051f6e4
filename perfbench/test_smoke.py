"""Smoke run of the benchmark on the smallest table set.

    python3 -m pytest perfbench/test_smoke.py -q

Each workload runs briefly at sf0.001, untraced and traced; every metric
named in BENCHMARK.json must be printed with its unit, and nothing may fail.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def run_bench(cwd: Path, *args: str, timeout: float = 300) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd,
        capture_output=True,
        text=True,
        timeout=timeout,
    )


@pytest.mark.parametrize("trace", ["0", "1"])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_smoke_prints_every_metric(workload, trace):
    proc = run_bench(
        ROOT,
        "--workload", workload,
        "--seed", "7",
        "--seconds", "6",
        "--trace", trace,
        "--scale", "sf0.001",
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True, proc.stdout
    assert result["failed"] == 0 and result["attempted"] >= 1

    expected = SPEC["per_layer"] if trace == "1" else SPEC["end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in expected}
    for m in expected:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float)), m["name"]
    if trace == "0":
        assert all(result["metrics"][m["name"]]["value"] > 0 for m in expected)

    printed = {line.split()[0]: line.split() for line in lines[:-1] if line.split()}
    assert printed["error_rate"][1] == "0.000000", printed["error_rate"]
    # Both modes print the end-to-end figures, so the traced run's
    # overhead is their difference from an untraced run.
    for m in SPEC["end_to_end"]:
        assert printed[m["name"]][2] == m["unit"], m["name"]
    assert printed["peak_rss_mb"][2] == "MB"


def test_fails_without_the_program(tmp_path):
    """In a directory holding only BENCHMARK.json and the benchmark, the
    run must fail fast and print no result."""
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    for path in SPEC["paths"]:
        shutil.copytree(ROOT / path, tmp_path / path)
    proc = run_bench(
        tmp_path, "--workload", WORKLOADS[0], "--seed", "1", "--seconds", "1", timeout=120
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
