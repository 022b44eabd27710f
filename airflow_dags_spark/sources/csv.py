"""CSV scans (S1–S3, SURVEY.md §2.1).

The reference downloads the HM Land Registry CSV then parses headerless
chunks with an imposed schema and BOM handling
(``dags/monthly_price_paid_data.py:104-117``,
``dags/initial_price_paid_data.py:103-117``). Spark's file scan is already
chunked and distributed — each 128 MB split is a task — so the 100k-row
hand-rolled micro-batching disappears; a 5 GB bulk file becomes ~40 parallel
tasks, a 100 TB landing zone becomes ~800k tasks scheduled across the
cluster. For continuous arrival, the same schema feeds ``readStream``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def read_headerless_csv(
    spark: SparkSession, path: str, schema: T.StructType
) -> DataFrame:
    """Headerless CSV with an explicit imposed schema (S3).

    - ``encoding='UTF-8'``: Spark strips the BOM natively (the reference
      needed ``utf-8-sig``, dags/monthly_price_paid_data.py:117).
    - Spark's default PERMISSIVE mode: a malformed field reads as NULL
      instead of aborting the load. Keeping the malformed rows whole for a
      quarantine is :func:`read_headerless_csv_quarantined`.
    """
    return (
        spark.read.schema(schema)
        .option("header", "false")
        .option("encoding", "UTF-8")
        .csv(path)
    )


def read_headerless_csv_quarantined(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    *,
    corrupt_col: str = "_corrupt_record",
) -> DataFrame:
    """S3 + error isolation: PERMISSIVE parse where unparseable rows land
    whole in ``corrupt_col`` instead of failing the job — the declarative
    replacement for the reference's per-batch rollback-and-continue
    (dags/monthly_price_paid_data.py:158-160): good rows load, bad rows are
    queryable for quarantine (filter ``corrupt_col IS NOT NULL`` → dead
    letter path), and nothing aborts.
    """
    full = T.StructType(
        list(schema.fields) + [T.StructField(corrupt_col, T.StringType(), True)]
    )
    return (
        spark.read.schema(full)
        .option("header", "false")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", corrupt_col)
        .csv(path)
    )


def read_headerless_csv_stream(
    spark: SparkSession,
    landing_dir: str,
    schema: T.StructType,
    *,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming variant of S2: incremental scan of a landing directory.

    Replaces the reference's requests.get(stream=True) + 100k-row buffer loop
    (dags/initial_price_paid_data.py:103-117) — each newly landed file is a
    micro-batch; ``maxFilesPerTrigger`` bounds per-trigger work the way the
    row buffer bounded memory.
    """
    reader = spark.readStream.schema(schema).option("header", "false")
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.csv(landing_dir)
