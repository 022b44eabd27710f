"""Session contract: tune_session is safe on sessions the engine doesn't
own; get_spark's launch-only confs (worker daemon, codegen cache) work."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

import pytest

from airflow_dags_spark.session import (
    ENGINE_CONFS,
    LAUNCH_CONFS,
    PACKAGE_ROOT,
    tune_session,
)


def test_tune_session_applies_engine_confs(spark):
    tune_session(spark)
    for key in ("spark.sql.adaptive.enabled", "spark.sql.session.timeZone"):
        assert spark.conf.get(key) == ENGINE_CONFS[key]


def test_tune_session_respects_explicit_shuffle_partitions(spark):
    """A caller-chosen (non-default) shuffle size is never overridden."""
    spark.conf.set("spark.sql.shuffle.partitions", "7")
    try:
        tune_session(spark)
        assert spark.conf.get("spark.sql.shuffle.partitions") == "7"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", "8")


def test_tune_session_resizes_static_default(spark):
    """Spark's static 200 default is replaced by the session's parallelism."""
    spark.conf.set("spark.sql.shuffle.partitions", "200")
    try:
        tune_session(spark)
        got = int(spark.conf.get("spark.sql.shuffle.partitions"))
        assert got == max(spark.sparkContext.defaultParallelism, 8)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", "8")


# -- launch-only confs: worker daemon and codegen cache -----------------------


def _run_python(code: str, cwd, extra_env: dict | None = None):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(extra_env or {})
    return subprocess.run(
        [sys.executable, "-c", textwrap.dedent(code)],
        cwd=cwd,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )


def test_python_udfs_run_from_a_foreign_cwd_without_pythonpath(tmp_path):
    """The daemon module must import on the workers even when neither the
    JVM's cwd nor PYTHONPATH holds the package: get_spark puts the package
    root on the workers' PYTHONPATH, ahead of the caller's value. Without it
    every Python UDF fails, also one that never touches package code."""
    out = _run_python(
        f"""
        import sys
        sys.path.insert(0, {PACKAGE_ROOT!r})
        from airflow_dags_spark.session import get_spark
        key = "spark.executorEnv.PYTHONPATH"
        spark = get_spark(master="local[1]",
                          extra_confs={{"spark.ui.enabled": "false",
                                        key: "/srv/shared-libs"}})
        print("PATH", spark.sparkContext.getConf().get(key))
        rows = spark.range(1).mapInPandas(lambda it: it, "id long").collect()
        spark.stop()
        print("ROWS", [r.id for r in rows])
        """,
        cwd=tmp_path,
        extra_env={"SPARK_GRAFT_DRIVER_MEM": "1g"},
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert f"PATH {PACKAGE_ROOT}{os.pathsep}/srv/shared-libs" in out.stdout
    assert "ROWS [0]" in out.stdout


@pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="CPython 3.13+ invalidates zip directories lazily; the daemon patches nothing",
)
def test_reused_worker_keeps_the_pyspark_zip_directory(spark):
    """Consecutive single-task pandas jobs that land on one reused worker
    see the SAME cached directory object for pyspark.zip: the per-task
    ``importlib.invalidate_caches()`` no longer re-reads the archive."""

    def probe(batches):
        import os
        import zipimport

        import pandas as pd

        for _ in batches:
            pass
        cache = zipimport._zip_directory_cache
        archive = next(p for p in cache if os.path.basename(p) == "pyspark.zip")
        prev = getattr(zipimport, "_test_seen_directory", None)
        zipimport._test_seen_directory = cache[archive]
        yield pd.DataFrame(
            {
                "pid": [os.getpid()],
                "seen": [prev is not None],
                "same": [prev is cache[archive]],
            }
        )

    schema = "pid long, seen boolean, same boolean"
    pids = set()
    for _ in range(32):
        row = spark.range(1, numPartitions=1).mapInPandas(probe, schema).collect()[0]
        if row.seen:
            break
        pids.add(row.pid)
    # idle workers are reused first-in first-out, so a worker that ran the
    # probe comes back once the idle pool has cycled
    assert row.seen, f"no worker was reused over 32 jobs (pids {sorted(pids)})"
    assert row.same


@pytest.mark.skipif(sys.version_info >= (3, 13), reason="no patch on CPython 3.13+")
def test_zip_patch_rereads_a_changed_archive(tmp_path):
    """An archive whose size or mtime changed is read again after
    ``importlib.invalidate_caches()``; an unchanged one keeps its directory."""
    out = _run_python(
        f"""
        import importlib, os, sys, zipfile, zipimport
        sys.path.insert(0, {PACKAGE_ROOT!r})
        from airflow_dags_spark.worker_daemon import install_lazy_zip_invalidation
        assert install_lazy_zip_invalidation()
        arc = os.path.join(os.getcwd(), "mods.zip")
        with zipfile.ZipFile(arc, "w") as z:
            z.writestr("mod_a.py", "X = 1")
        sys.path.insert(0, arc)
        import mod_a
        first = zipimport._zip_directory_cache[arc]
        importlib.invalidate_caches()
        import mod_a
        assert zipimport._zip_directory_cache[arc] is first
        with zipfile.ZipFile(arc, "a") as z:
            z.writestr("mod_b.py", "Y = 2")
        importlib.invalidate_caches()
        import mod_b
        assert mod_b.Y == 2
        assert zipimport._zip_directory_cache[arc] is not first
        print("OK")
        """,
        cwd=tmp_path,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert out.stdout.strip() == "OK"


def test_codegen_cache_holds_a_sessions_plans(spark):
    """~150 distinct tiny plans, run twice: the second round compiles no
    new class. Spark's default cache of 100 entries would evict the first
    round's classes before the second round reached them."""
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == (
        LAUNCH_CONFS["spark.sql.codegen.cache.maxEntries"]
    )
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compiles = metrics.METRIC_COMPILATION_TIME().getCount

    def one_round():
        before = compiles()
        for i in range(150):
            spark.range(2).selectExpr(f"id * 7919 + {i} AS x").collect()
        return compiles() - before

    assert one_round() >= 150
    assert one_round() == 0
