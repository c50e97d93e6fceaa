"""Smoke test of the benchmark.

Runs every workload of ``BENCHMARK.json`` for one second (the two warm
iterations every run makes), untraced and traced, and asserts that every metric the file names
is printed, by name and with its unit, on a correct run. Run from the
repository root:

    python3 -m pytest dvgbench/tests -q
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def run_bench(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    args = ["--workload", workload, "--seed", "1", "--seconds", "1", "--trace", str(trace)]
    return subprocess.run(
        SPEC["command"] + args,
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_every_metric_printed_with_its_unit(workload: str, trace: int) -> None:
    out = run_bench(ROOT, workload, trace)
    assert out.returncode == 0, out.stderr[-3000:]
    result = json.loads(out.stdout.splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    named = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {m["name"]: m["unit"] for m in named}
    for name, v in result["metrics"].items():
        assert isinstance(v["value"], (int, float)) and math.isfinite(v["value"]), name
    if trace and workload == "flagship":
        # released between iterations: nothing stays cached
        assert result["metrics"]["cache.persisted_rdds_after_run"]["value"] == 0
    if trace:
        assert abs(result["metrics"]["trace.span_coverage"]["value"] - 1.0) <= 0.1


def test_refuses_to_run_without_the_package(tmp_path) -> None:
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for path in SPEC["paths"]:
        shutil.copytree(os.path.join(ROOT, path), tmp_path / path)
    out = run_bench(str(tmp_path), SPEC["workloads"][0]["name"], 0)
    assert out.returncode != 0
    assert '"metrics"' not in out.stdout
