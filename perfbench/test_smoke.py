"""Smoke test of the benchmark: every workload at a tiny size, untraced
and traced, must print every metric BENCHMARK.json names, with its
unit, and fail no operation.

Run from the repository root (a few minutes; each case starts Spark):

    python3 -m pytest perfbench/test_smoke.py -q
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


def _run(workload: str, trace: int) -> subprocess.CompletedProcess:
    cmd = [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
           "--workload", workload, "--seed", "7", "--seconds", "1",
           "--trace", str(trace), "--size", "tiny"]
    return subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_workload_reports_every_metric(workload, trace):
    proc = _run(workload, trace)
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["failed"] == 0 and result["correct"], proc.stderr[-3000:]
    assert result["attempted"] >= 1
    wanted = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert {m["name"]: m["unit"] for m in wanted} == {
        k: v["unit"] for k, v in result["metrics"].items()
    }
    for name, m in result["metrics"].items():
        assert isinstance(m["value"], (int, float)), name
    if trace:
        _assert_traced_passes_agree(json.loads(proc.stdout.strip().splitlines()[-2]))


def _assert_traced_passes_agree(record: dict) -> None:
    """Every traced pass runs the same operations, so each must be
    charged the same Spark jobs and stages: no pass may also count the
    jobs of an earlier one."""
    assert record["traced_passes"] >= 2
    with open(os.path.join(ROOT, record["spans_file"])) as f:
        passes = json.load(f)
    counts = [(sum(s["jobs"] for s in spans), sum(len(s["stage_ids"]) for s in spans))
              for spans in passes]
    assert counts[0][0] > 0
    assert len(set(counts)) == 1, counts
