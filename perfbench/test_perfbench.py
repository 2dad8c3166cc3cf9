"""Self-test of the benchmark: every workload once at a tiny size.

    python3 -m pytest perfbench -q

For each workload it runs one untraced run checked against a deliberately
wrong expected count, which must count every job as failed, and one traced
run, which must pass its check. Both runs must print every metric named in
BENCHMARK.json with its unit.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TINY_ROWS = {"flagship": 2000, "fanout_bigdict": 2000, "dedup_tokens": 300}

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)


def _run(workload: str, trace: int, *extra: str) -> tuple[dict, str]:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--rows", str(TINY_ROWS[workload]), *extra],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1]), p.stdout


def _units(section: str) -> dict[str, str]:
    return {m["name"]: m["unit"] for m in BENCH[section]}


@pytest.mark.parametrize("workload", sorted(TINY_ROWS))
def test_wrong_expected_count_fails_every_run(workload):
    result, log = _run(workload, 0, "--corrupt-expected")
    assert {k: v["unit"] for k, v in result["metrics"].items()} == _units("end_to_end")
    assert result["attempted"] >= 1
    assert result["failed"] == result["attempted"]
    assert result["correct"] is False
    assert "failed_frac 1.000" in log


@pytest.mark.parametrize("workload", sorted(TINY_ROWS))
def test_traced_run_reports_every_layer(workload):
    result, log = _run(workload, 1)
    assert {k: v["unit"] for k, v in result["metrics"].items()} == _units("per_layer")
    assert (result["correct"], result["attempted"], result["failed"]) == (True, 1, 0)
    if workload == "flagship":
        assert result["metrics"]["scaling_eff"]["value"] > 0
        assert "north-rule check >= 0.8" in log


def test_exits_nonzero_without_the_package(tmp_path):
    """In a directory holding only the benchmark, it fails without a result."""
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench")
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path / "BENCHMARK.json")
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "flagship", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
