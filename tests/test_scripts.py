"""The root scripts stay importable and the sweep runner's CLI holds: a
script left pointing at a moved or deleted name fails here, not on its
next hand run."""

from __future__ import annotations

import glob
import importlib.util
import json
import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCRIPTS = sorted(
    os.path.basename(p) for p in glob.glob(os.path.join(REPO, "scripts_*.py"))
) + ["bench.py"]


@pytest.mark.parametrize("script", SCRIPTS)
def test_script_imports(script):
    spec = importlib.util.spec_from_file_location(
        f"script_{script[:-3]}", os.path.join(REPO, script)
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)  # runs module level only, not main()
    assert callable(mod.main)


def _sweep(cwd, *args: str) -> subprocess.CompletedProcess:
    env = {**os.environ, "SPARK_GRAFT_CPUS": "2", "SPARK_GRAFT_DRIVER_MEM": "1g"}
    return subprocess.run(
        [sys.executable, os.path.join(REPO, "scripts_sweep_timing.py"), *args],
        capture_output=True, text=True, env=env, cwd=cwd, timeout=600,
    )


def test_sweep_cli_prints_summary_then_one_record_per_query(tmp_path, sf_dir):
    r = _sweep(tmp_path, sf_dir, "--queries=q1_pricing_summary,dedup_exact",
               f"--explain={tmp_path}/plans/after")
    assert r.returncode == 0, r.stderr[-2000:]
    summary, *records = [json.loads(line) for line in r.stdout.splitlines()]
    assert summary["n"] == 2 and summary["errors"] == {}
    assert sorted(rec["query"] for rec in records) == ["dedup_exact", "q1_pricing_summary"]
    assert all(rec["exec_jobs"] >= 1 for rec in records)
    assert sorted(os.listdir(tmp_path / "plans")) == [
        "dedup_exact_after.txt", "q1_pricing_summary_after.txt"
    ]


def test_sweep_cli_rejects_unknown_flag(tmp_path):
    r = _sweep(tmp_path, "--runs=2")
    assert r.returncode != 0
    assert "unrecognized flag" in r.stderr
