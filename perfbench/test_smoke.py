"""Tiny-size smoke test of the benchmark itself.

Runs every workload declared in ``BENCHMARK.json`` at its tiny size, once
untraced and once traced, and asserts that the last line carries every
declared metric with its declared unit and that no pass failed
(``error_rate`` 0). The traced run must also keep the sum of layer self
times within the traced pass wall time. Also checks that the benchmark
refuses to run, without printing a result, when the program under test is
absent.

    python3 -m pytest perfbench/test_smoke.py -q
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
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


def _run(cwd: str, workload: str, trace: int, size: int) -> subprocess.CompletedProcess:
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "0", "--trace", str(trace), "--size", str(size)]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=900)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_workload_prints_every_metric(workload: str, trace: int) -> None:
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    out = _run(ROOT, workload, trace, WORKLOADS[workload].tiny)
    assert out.returncode == 0, out.stderr[-3000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    declared = SPEC["per_layer" if trace else "end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in declared}
    for m in declared:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float)), m["name"]
    assert result["attempted"] >= 2
    assert result["failed"] == 0 and result["correct"], out.stdout[-3000:]
    record = json.loads(out.stdout.strip().splitlines()[-2])
    assert record["error_rate"] == 0
    if trace:
        assert record["layer_self_sum_s"] > 0
        assert record["layer_self_le_wall"], record["layer_self_sum_s"]


def test_refuses_without_the_program(tmp_path) -> None:
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".cache", ".work", ".out", "__pycache__"))
    out = _run(str(tmp_path), SPEC["workloads"][0]["name"], 0, 1)
    assert out.returncode != 0
    assert '"metrics"' not in out.stdout
