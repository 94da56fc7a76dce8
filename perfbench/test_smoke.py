"""The benchmark's own test: every workload for one op on a small input,
untraced and traced.

    python -m pytest perfbench/test_smoke.py -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from run import E2E_UNITS, LAYER_UNITS  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def _run(workload: str, trace: int) -> tuple[dict, dict]:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace), "--smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    report, result = (json.loads(line) for line in proc.stdout.strip().splitlines()[-2:])
    return report, result


def test_benchmark_json_names_what_the_harness_emits():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {w["name"] for w in bench["workloads"]} == set(WORKLOADS)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == E2E_UNITS
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == LAYER_UNITS


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_untraced_run_emits_every_end_to_end_metric(workload):
    report, result = _run(workload, 0)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 2
    assert set(result["metrics"]) == set(E2E_UNITS)
    for name, unit in E2E_UNITS.items():
        assert result["metrics"][name]["unit"] == unit
        assert result["metrics"][name]["value"] > 0, name
        assert report["metrics"][name]["samples"] >= 1, name
    assert report["environment"]["nproc"] == len(os.sched_getaffinity(0))


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_traced_run_emits_every_layer_metric_and_writes_spans(workload):
    report, result = _run(workload, 1)
    assert result["correct"], report["failures"]
    assert set(result["metrics"]) == set(LAYER_UNITS)
    for name, unit in LAYER_UNITS.items():
        assert result["metrics"][name]["unit"] == unit
    called = [k for k in LAYER_UNITS if k not in report["layers_not_called"]]
    assert result["metrics"]["session.start_s"]["value"] > 0
    assert sum(result["metrics"][k]["value"] > 0 for k in called) > len(called) // 2
    with open(os.path.join(ROOT, report["spans"])) as f:
        spans = json.load(f)
    names = {s["name"] for s in spans}
    assert "op.traced" in names
    op = next(s for s in spans if s["name"] == "op.traced")
    assert any(s["parent"] == op["id"] and s["op"] == op["op"] for s in spans)
    assert all(s["end"] >= s["start"] for s in spans)
