"""functions/profile.py: job-group accounting of build vs execute, checked
against the per-operator plan audit (``metrics.scan_summary``) and against
failing queries; plus the sweep's keep-going contract."""

from __future__ import annotations

import importlib.util
import os

import pytest

from airflow_dags_spark.functions.metrics import scan_summary
from airflow_dags_spark.functions.profile import profile_query
from airflow_dags_spark.plans import registry

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _eager_count_then_range(spark, sf_dir):
    # an RDD count is exactly one job; a DataFrame count under AQE is two
    # (the shuffle map stage runs as its own job)
    spark.sparkContext.parallelize(range(10), 2).count()
    return spark.range(10)


def test_eager_build_job_counted_in_build_phase(spark, sf_dir):
    for _ in range(2):  # a repeated name counts only its own run's jobs
        rec = profile_query(spark, "eager_count", _eager_count_then_range, sf_dir)
        assert rec["build_jobs"] == 1
        assert rec["exec_jobs"] >= 1
        assert rec["rows_out"] == 10
        assert rec["build_s"] > 0 and rec["exec_s"] > 0


def test_exec_record_matches_scan_summary(spark, sf_dir):
    registry.load_all()
    fn = registry.QUERIES["q1_pricing_summary"]
    rec = profile_query(spark, "q1_pricing_summary", fn, sf_dir)
    df = fn(spark, sf_dir)
    df.collect()
    s = scan_summary(df)
    assert rec["exec_input_records"] == s["rows_scanned"] > 0
    assert rec["exec_shuffle_write_bytes"] == s["shuffle_bytes_written"] > 0
    assert rec["rows_out"] == s["rows_out"] > 0
    assert rec["exec_stages"] >= 1 and rec["exec_tasks"] >= rec["exec_stages"]


def _boom(spark, sf_dir):
    spark.sparkContext.parallelize(range(3), 1).count()
    raise RuntimeError("boom")


def test_job_group_cleared_after_query_raises(spark, sf_dir):
    sc = spark.sparkContext
    with pytest.raises(RuntimeError, match="boom"):
        profile_query(spark, "boom", _boom, sf_dir)
    assert sc.getLocalProperty("spark.jobGroup.id") is None
    before = set(sc.statusTracker().getJobIdsForGroup("build:boom"))
    sc.parallelize(range(3), 1).count()
    assert set(sc.statusTracker().getJobIdsForGroup("build:boom")) == before


def test_sweep_records_error_and_keeps_going(spark, sf_dir, monkeypatch):
    spec = importlib.util.spec_from_file_location(
        "sweep_script", os.path.join(REPO, "scripts_sweep_timing.py")
    )
    sweep = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(sweep)
    registry.load_all()
    monkeypatch.setitem(registry.QUERIES, "boom", _boom)
    records = sweep.sweep(spark, sf_dir, ["boom", "q1_pricing_summary"])
    assert [r["query"] for r in records] == ["boom", "q1_pricing_summary"]
    assert records[0]["error"].startswith("RuntimeError: boom")
    assert "error" not in records[1] and records[1]["rows_out"] > 0
