"""Parquet table scans over the driver test data (S6/S7 analogs).

The reference reads Postgres tables with manual projection/predicate
(``dags/pull_new_sales_list.py:87-103``, ``dags/rightmove_outcodes.py:50-55``);
here scans are declarative — Catalyst pushes filters and prunes columns into
the parquet reader, so callers just ``read_table(...).select(...).where(...)``.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from airflow_dags_spark.schemas import TESTDATA_TABLES

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# footer key under which Spark's parquet writer stores the row schema as JSON
SPARK_ROW_METADATA = "org.apache.spark.sql.parquet.row.metadata"


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one synthetic table. Plain parquet: column pruning and predicate
    pushdown are automatic; at 100 TB the same call reads a partitioned
    lakehouse path and additionally prunes partitions.

    events.ts is stored as TIMESTAMP(NANOS) — Spark reads it as epoch-nanos
    bigint (legacy.parquet.nanosAsLong) and we convert here with integer
    division (floor to micros, matching DuckDB's ns→µs read)."""
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def table_exists(spark: SparkSession, path: str) -> bool:
    """Existence probe for a path-backed table — the engine analog of the
    reference's information_schema check (dags/monthly_price_paid_data.py:65-71).

    Catalog-registered tables would use spark.catalog.tableExists; the engine
    is lakehouse-path-native, so probe the filesystem through the JVM's
    Hadoop FS (works for s3a:// and hdfs:// paths too, unlike os.path).
    """
    from airflow_dags_spark.operators.commit import hadoop_fs

    jvm, fs = hadoop_fs(spark, path)
    return bool(fs.exists(jvm.org.apache.hadoop.fs.Path(path)))


def parquet_row_count(spark: SparkSession, path: str) -> int:
    """Exact row count from parquet FOOTER metadata — a driver-side file
    listing + footer read, ZERO Spark jobs (``df.count()`` schedules a full
    scan stage; row-group headers already carry the answer).

    Use for sizing decisions (e.g. semantic_dedup's n_clusters rule) where
    the count is needed BEFORE any job runs. Works on any Hadoop FS path
    (file://, s3a://, hdfs://). Directories are walked recursively;
    non-parquet sidecars (_SUCCESS, manifests) are skipped."""
    from airflow_dags_spark.operators.commit import hadoop_fs

    jvm, fs = hadoop_fs(spark, path)
    conf = spark.sparkContext._jsc.hadoopConfiguration()  # type: ignore[union-attr]
    total = 0
    it = fs.listFiles(jvm.org.apache.hadoop.fs.Path(path), True)
    while it.hasNext():
        status = it.next()
        name = status.getPath().getName()
        if not name.endswith(".parquet") or name.startswith(("_", ".")):
            continue
        infile = jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            status.getPath(), conf
        )
        reader = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(infile)
        try:
            total += int(reader.getRecordCount())
        finally:
            reader.close()
    return total


def _first_data_file(fs, hpath):
    """The first visible ``*.parquet`` file under ``hpath``, files before
    subdirectories, subdirectories in name order; None if there is none.
    Hidden names (``_SUCCESS``, ``_temporary``, ``.crc``) are skipped, as
    Spark's file index skips them."""
    dirs = []
    for status in fs.listStatus(hpath):
        name = status.getPath().getName()
        if name.startswith(("_", ".")):
            continue
        if status.isDirectory():
            dirs.append((name, status.getPath()))
        elif name.endswith(".parquet"):
            return status.getPath()
    for _, sub in sorted(dirs):
        found = _first_data_file(fs, sub)
        if found is not None:
            return found
    return None


def footer_schema(spark: SparkSession, path: str) -> StructType | None:
    """The row schema Spark's writer stored in the footer of the first data
    file under ``path``, read on the driver like ``parquet_row_count``:
    zero Spark jobs. Spark's own inference (no schema merging) reads the
    same key from one file through a one-task job; partition columns are
    in neither and come from the directory names. None when ``path`` is
    missing, has no data file, or its footer holds no Spark schema
    (pyarrow- or DuckDB-written files)."""
    from airflow_dags_spark.operators.commit import hadoop_fs

    jvm, fs = hadoop_fs(spark, path)
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    first = _first_data_file(fs, hpath) if fs.exists(hpath) else None
    if first is None:
        return None
    conf = spark.sparkContext._jsc.hadoopConfiguration()  # type: ignore[union-attr]
    infile = jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(first, conf)
    reader = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(infile)
    try:
        meta = reader.getFooter().getFileMetaData().getKeyValueMetaData()
        stored = meta.get(SPARK_ROW_METADATA)
    finally:
        reader.close()
    return None if stored is None else StructType.fromJson(json.loads(stored))


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` without the schema-inference job when
    the files were written by Spark: the footer schema is passed to
    ``spark.read.schema``. Falls back to inference when ``footer_schema``
    finds none or the session merges schemas across files."""
    merge = spark.conf.get("spark.sql.parquet.mergeSchema", "false") == "true"
    schema = None if merge else footer_schema(spark, path)
    return (spark.read if schema is None else spark.read.schema(schema)).parquet(path)


def register_views(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TESTDATA_TABLES
) -> None:
    """Register tables as temp views so the SQL surface (spark.sql) works
    end-to-end — the engine analog of the reference's named Postgres tables."""
    for name in names:
        read_table(spark, sf_dir, name).createOrReplaceTempView(name)


def read_evolved(
    spark: SparkSession,
    *paths: str,
    type_widening: bool = True,
) -> DataFrame:
    """Schema-drift-tolerant scan across table snapshots/landing batches.

    A long-lived ingest path accumulates files written under different
    schema versions (columns added, columns retired, ints widened). Spark's
    ``mergeSchema`` handles ADDED columns but hard-fails on type changes;
    this reader aligns every snapshot to the UNION schema explicitly:

    - columns present in some snapshots only → null-filled elsewhere
      (``unionByName(allowMissingColumns=True)``);
    - integer/float width drift (int→bigint, float→double) → widened to the
      widest observed type BEFORE the union, so `mergeSchema`'s failure
      mode is handled instead of raised;
    - genuinely incompatible redefinitions (e.g. string→struct) still
      raise — silent coercion would corrupt data.

    Each snapshot stays one independent parquet scan (pushdown/pruning
    intact); the union is plan-level, no data movement beyond the scans.
    """
    from pyspark.sql.types import (
        ByteType,
        DoubleType,
        FloatType,
        IntegerType,
        LongType,
        ShortType,
    )

    _int_rank = {ByteType: 0, ShortType: 1, IntegerType: 2, LongType: 3}
    _flt_rank = {FloatType: 0, DoubleType: 1}

    dfs = [spark.read.parquet(p) for p in paths]

    def _widest(a, b):
        if type(a) is type(b):
            return a
        if type(a) in _int_rank and type(b) in _int_rank:
            return a if _int_rank[type(a)] >= _int_rank[type(b)] else b
        if type(a) in _flt_rank and type(b) in _flt_rank:
            return a if _flt_rank[type(a)] >= _flt_rank[type(b)] else b
        if type(a) in _int_rank and type(b) in _flt_rank:
            return b
        if type(a) in _flt_rank and type(b) in _int_rank:
            return a
        raise TypeError(
            f"incompatible schema drift: {a.simpleString()} vs {b.simpleString()}"
        )

    target: dict = {}
    for df in dfs:
        for f in df.schema.fields:
            if f.name in target and type_widening:
                target[f.name] = _widest(target[f.name], f.dataType)
            elif f.name not in target:
                target[f.name] = f.dataType

    aligned = []
    for df in dfs:
        cols = []
        for f in df.schema.fields:
            want = target[f.name]
            cols.append(
                df[f.name].cast(want).alias(f.name)
                if f.dataType != want
                else df[f.name]
            )
        aligned.append(df.select(*cols))

    out = aligned[0]
    for df in aligned[1:]:
        out = out.unionByName(df, allowMissingColumns=True)
    return out
