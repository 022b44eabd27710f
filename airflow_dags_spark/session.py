"""SparkSession factory with scale-oriented defaults.

The engine targets a 1000-executor cluster over ~100 TB; tests run on
``local[N]``. Every conf here is chosen for the big cluster and is harmless
locally. They come in two kinds.

Runtime confs (``ENGINE_CONFS``) can be set on a live session, so
``tune_session`` applies them to sessions the engine does not own (an
external harness that imports the engine builds its own plain session):

- AQE on (runtime re-plan, skew-join splitting, partition coalescing) so a
  fixed ``spark.sql.shuffle.partitions`` is a ceiling, not a bet.
- Arrow on for every pandas UDF / ``applyInPandas`` boundary.
- UTC session timezone — the reference runs UTC
  (``scripts/airflow_home/airflow.cfg:43``) and the DuckDB correctness
  oracle is timezone-naive.

Launch-only confs (``LAUNCH_CONFS`` plus the driver heap) are read once,
when the JVM or its Python worker daemon starts, so only ``get_spark``'s
builder path sets them; ``tune_session`` leaves them alone:

- ``spark.python.daemon.module`` selects ``worker_daemon``, which forks the
  Python workers like ``pyspark.daemon`` but stops each task from
  re-reading the ``pyspark.zip`` directory (see that module). The package
  root goes on the workers' ``PYTHONPATH`` so the daemon imports from any
  working directory.
- ``spark.sql.codegen.cache.maxEntries`` keeps every generated class of a
  session's plans compiled once (sized below).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Confs that must hold on any cluster running this engine. Values are
# runtime-settable (not frozen at session start) unless noted.
ENGINE_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # 64 MiB advisory post-shuffle partition size: big enough to amortize
    # task overhead at 100 TB, small enough to fit executor memory.
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64m",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Broadcast anything under 64 MiB — dimension tables (region, nation,
    # areas) stay broadcast even at 100 TB fact scale.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Null-safe, permissive casts by default; operators use try_* forms
    # where the reference used errors='coerce'.
    "spark.sql.ansi.enabled": "false",
    # The driver's events.parquet stores TIMESTAMP(NANOS) which Spark has no
    # native type for; read as epoch-nanos bigint and convert at the scan
    # (sources.tables.read_table).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # zstd for every parquet the engine writes: ~25-40% smaller than snappy
    # on text-heavy corpora at similar scan speed — at 100 TB that is pure
    # storage + scan-I/O savings; decode stays JVM-native and vectorized.
    "spark.sql.parquet.compression.codec": "zstd",
}

# The directory holding this package, for the Python workers' PYTHONPATH.
PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Confs read only at JVM / worker-daemon start (see the module docstring).
LAUNCH_CONFS: dict[str, str] = {
    "spark.python.daemon.module": "airflow_dags_spark.worker_daemon",
    # Spark's default of 100 generated classes thrashes: every repeat pass
    # of perfbench's sweep_tail recompiled 76 of them through Janino (and
    # the JIT), every pricepaid_cycle pass 105. Measured in one JVM with an
    # unbounded cache: bench.py's 44 headline queries, one pass of each
    # perfbench workload and a second headline round compile 994 distinct
    # classes (741 + 115 + 112 + 26), after which repeat passes compile 0.
    # 2048 is about twice that.
    "spark.sql.codegen.cache.maxEntries": "2048",
}


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply engine confs to an externally-created session (driver harness).

    Only runtime-settable confs are applied; failures on static confs are
    ignored so a shared session is never broken.
    """
    for key, value in ENGINE_CONFS.items():
        try:
            spark.conf.set(key, value)
        except Exception:
            pass
    # Size the shuffle to the session's actual parallelism when the caller
    # left Spark's static 200 default in place. 200 reducers on a local[8]
    # driver session is 25× task overhead for zero parallelism gain (and
    # 25× the block-manager bookkeeping across a 100-query run); on a real
    # cluster defaultParallelism = total executor cores, the right AQE
    # initial partition count for coalescing to shrink from.
    try:
        if spark.conf.get("spark.sql.shuffle.partitions") == "200":
            cores = spark.sparkContext.defaultParallelism
            spark.conf.set("spark.sql.shuffle.partitions", str(max(cores, 8)))
    except Exception:
        pass
    return spark


def get_spark(
    app_name: str = "airflow_dags_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or get) a tuned SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default all
    cores) so tests and bench share one code path; on a real cluster the
    caller passes no master and spark-submit supplies it.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    builder = SparkSession.builder.appName(app_name).master(master)
    # Static conf (JVM-launch only; ignored by tune_session on shared
    # sessions): in local mode the driver JVM hosts every executor thread,
    # so Spark's 1g default heap starves 32 concurrent tasks' sort/write
    # buffers long before the box's memory is used.
    builder = builder.config(
        "spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")
    )
    confs = {**LAUNCH_CONFS, **ENGINE_CONFS}
    if shuffle_partitions is not None:
        confs["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    confs.update(extra_confs or {})
    # Without the package root the daemon module is importable only when the
    # JVM's working directory or PYTHONPATH happens to hold it, and every
    # Python UDF fails otherwise.
    paths = confs.get("spark.executorEnv.PYTHONPATH", "").split(os.pathsep)
    confs["spark.executorEnv.PYTHONPATH"] = os.pathsep.join(
        [PACKAGE_ROOT] + [p for p in paths if p and p != PACKAGE_ROOT]
    )
    for key, value in confs.items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    return tune_session(spark)
