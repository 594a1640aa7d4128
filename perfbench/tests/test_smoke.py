"""Smoke tests for the benchmark: every workload runs at tiny scale,
passes every correctness check, and prints exactly the metrics
BENCHMARK.json declares.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
SPEC = os.path.join(ROOT, "BENCHMARK.json")


def run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=900,
    )


@pytest.mark.parametrize(
    "workload,trace",
    [("codec_regular", 1), ("ingest_age", 0), ("dashboard_reads", 1)],
)
def test_workload_smoke(workload, trace):
    out = run(ROOT, "--workload", workload, "--seed", "7", "--seconds", "1",
              "--trace", str(trace), "--smoke")
    assert out.returncode == 0, out.stderr[-4000:]
    lines = out.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    detail = json.loads(lines[-2])
    assert result["correct"], detail["failures"]
    assert result["failed"] == 0 and result["attempted"] >= 1
    with open(SPEC) as f:
        spec = json.load(f)
    declared = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == declared
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())
    if workload == "dashboard_reads":
        assert all(detail[f"{k}_p50_s"] is not None for k in
                   ("range_1d", "series_7d", "auto_7d", "serve_7d", "gapfill_1d"))


def test_fails_without_engine(tmp_path):
    """A checkout holding only the benchmark exits non-zero, printing
    no result."""
    shutil.copy(SPEC, tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    out = run(str(tmp_path), "--workload", "codec_regular", "--seed", "1",
              "--seconds", "1", "--trace", "0")
    assert out.returncode != 0
    assert '"correct"' not in out.stdout
