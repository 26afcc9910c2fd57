"""Smoke test of every workload at sf0.001 for one second.

Runs ``run.py --trace 1`` (an untraced and a traced child) per
workload and asserts that every metric named in BENCHMARK.json
appears with its unit and that the output check passes.

    python3 -m pytest perfbench/test_smoke.py -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


def _units(kind: str) -> dict[str, str]:
    return {m["name"]: m["unit"] for m in SPEC[kind]}


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_workload_smoke(workload):
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
         "--workload", workload, "--seed", "7", "--seconds", "1",
         "--trace", "1", "--sf", "0.001", "--driver-memory", "2g"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    *_, detail_line, result_line = proc.stdout.strip().splitlines()
    result = json.loads(result_line)
    detail = json.loads(detail_line)["detail"]
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True, detail["failures"]
    assert result["failed"] == 0 and result["attempted"] >= 1
    got = {n: m["unit"] for n, m in result["metrics"].items()}
    assert got == _units("per_layer")
    e2e = {n: m["unit"] for n, m in detail["end_to_end"].items()}
    assert e2e == _units("end_to_end")
    assert all(m["value"] > 0 for m in detail["end_to_end"].values())
