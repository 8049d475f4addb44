"""Smoke test of the benchmark itself at tiny input sizes.

    python3 -m pytest perfbench/test_smoke.py -q

Runs every workload in BENCHMARK.json once with tracing and once
without, and checks the final stdout line against the declared metric
names and units.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import layers, run  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)


def test_parse_metric():
    assert layers.parse_metric("64.2 MiB") == pytest.approx(64.2 * 2**20)
    assert layers.parse_metric("60,000") == 60000
    assert layers.parse_metric("1.5 s") == 1.5
    assert layers.parse_metric("45 ms") == pytest.approx(0.045)
    assert layers.parse_metric(
        "total (min, med, max (stageId: taskId))\n193.0 MiB (64.0 MiB, 64.2 MiB, 64.8 MiB "
        "(stage 3.0: task 12))") == pytest.approx(193.0 * 2**20)


def test_tail_has_ten_samples_beyond():
    values = [float(i) for i in range(100)]
    value, pct, n = run._tail(values)
    assert (value, pct, n) == (89.0, 90.0, 100)
    assert sum(v > value for v in values) == 10


@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
@pytest.mark.parametrize("trace", [0, 1])
def test_final_line(workload, trace):
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--scale", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-2000:]
    final = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(final) == {"correct", "attempted", "failed", "metrics"}
    assert final["correct"] is True and final["failed"] == 0 and final["attempted"] >= 1
    declared = BENCH["per_layer" if trace else "end_to_end"]
    assert {k: v["unit"] for k, v in final["metrics"].items()} == {
        m["name"]: m["unit"] for m in declared}
    assert all(isinstance(v["value"], (int, float)) for v in final["metrics"].values())
    if not trace:
        assert all(v["value"] > 0 for v in final["metrics"].values())
