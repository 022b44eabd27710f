"""Smoke test of the benchmark itself, on tiny inputs (sf0.001 star tables
and a small price-paid cycle):

    python3 -m pytest perfbench/test_smoke.py -q

Every workload must run clean (``failed`` = 0, ``error_rate`` = 0) and print
every metric BENCHMARK.json declares, and the benchmark must refuse to run
without the package next to it.
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
sys.path.insert(0, ROOT)

from perfbench import run  # noqa: E402


def bench(tmp_args: list[str], cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *tmp_args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def listed(stderr: str) -> dict[str, float]:
    out = {}
    for line in stderr.splitlines():
        parts = line.split()
        if len(parts) == 3 and parts[0] in run.ALL_UNITS | run.END_TO_END:
            out[parts[0]] = float(parts[1])
    return out


def test_benchmark_json_matches_the_script():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    # headline runs by hand only; see the comment on WORKLOADS
    assert [w["name"] for w in spec["workloads"]] == [w for w in run.WORKLOADS if w != "headline"]
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER


@pytest.mark.parametrize("workload", list(run.WORKLOADS))
def test_traced_smoke_run_prints_every_metric(workload):
    p = bench(["--workload", workload, "--seed", "3", "--seconds", "1", "--trace", "1", "--size", "smoke"])
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["failed"] == 0 and result["correct"], p.stderr[-3000:]
    assert set(result["metrics"]) == set(run.PER_LAYER)
    assert all(m["unit"] == run.PER_LAYER[k] for k, m in result["metrics"].items())
    shown = listed(p.stderr)
    assert set(shown) == set(run.ALL_UNITS) | set(run.END_TO_END)
    assert shown["error_rate"] == 0


def test_untraced_smoke_run_prints_end_to_end_metrics():
    p = bench(["--workload", "headline", "--seed", "4", "--seconds", "1", "--trace", "0", "--size", "smoke"])
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert result["failed"] == 0
    assert {k: m["unit"] for k, m in result["metrics"].items()} == run.END_TO_END
    assert all(m["value"] > 0 for m in result["metrics"].values())


def test_refuses_to_run_without_the_package(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns(".work", "out", "__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = bench(["--workload", "headline", "--seed", "1", "--seconds", "1", "--trace", "0"], cwd=str(tmp_path))
    assert p.returncode != 0
    assert p.stdout.strip() == ""
