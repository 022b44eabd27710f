"""Price-paid ingestion jobs (SURVEY.md §3.1; reference entry points
``dags/initial_price_paid_data.py`` and ``dags/monthly_price_paid_data.py``).

Both DAGs share one transform pipeline (S3 headerless scan → P4 brace-strip →
P5 date parse → P6 price coerce → P7 dropna → P8 ``OX%`` filter); they differ
only in the write discipline:

- initial load: bulk append, no conflict handling (K2,
  dags/initial_price_paid_data.py:136-142)
- monthly update: insert-if-absent upsert (K3, ``ON CONFLICT DO NOTHING``,
  dags/monthly_price_paid_data.py:147-155)

Scale: the clean pipeline is one narrow stage (no shuffle) that whole-stage-
codegens; at 100 TB the only shuffle is the K3 anti-join, which broadcasts
the (small) monthly batch against the big target. The reference's 100k-row
hand-chunking (dags/initial_price_paid_data.py:106) disappears — Spark's
file splits are the chunks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from pyspark.sql import functions as F

from airflow_dags_spark.functions.cleaning import clean_price_paid
from airflow_dags_spark.operators.upsert import ParquetTable
from airflow_dags_spark.schemas import PRICE_PAID_RAW_SCHEMA
from airflow_dags_spark.sources.csv import read_headerless_csv

KEY = "transaction_unique_identifier"

# Physical layout standing in for `CREATE INDEX idx_postcode`
# (dags/monthly_price_paid_data.py:93, SURVEY.md §2.2 K7): partition on the
# outward-code prefix so `postcode LIKE 'OX%'`-class predicates become
# partition PRUNING (directories skipped), and parquet min/max stats cover
# finer lookups inside a partition. ~120 distinct UK area prefixes → healthy
# partition count at any scale.
AREA_COL = "postcode_area"


def with_postcode_area(df: DataFrame) -> DataFrame:
    return df.withColumn(
        AREA_COL, F.regexp_extract(F.upper("postcode"), r"^([A-Z]{1,2})", 1)
    )


def _read_clean(spark: SparkSession, csv_path: str) -> DataFrame:
    raw = read_headerless_csv(spark, csv_path, PRICE_PAID_RAW_SCHEMA)
    return with_postcode_area(clean_price_paid(raw))


def _table(spark: SparkSession, table_path: str, partitioned: bool) -> ParquetTable:
    return ParquetTable(
        spark, table_path, KEY, partition_by=[AREA_COL] if partitioned else None
    )


def initial_load(
    spark: SparkSession, csv_path: str, table_path: str, *, partitioned: bool = True
) -> ParquetTable:
    """One-shot bulk load (dags/initial_price_paid_data.py:97-178).

    The target is (re)created from the cleaned scan; idempotent because the
    whole table is the batch (rerun ⇒ same table), unlike the reference,
    whose plain INSERT duplicates on rerun — an acknowledged semantic
    upgrade, not a deviation: the initial DAG is manual-trigger-once.
    """
    table = _table(spark, table_path, partitioned)
    cleaned = _read_clean(spark, csv_path)
    # first-wins on the natural key even within the bulk file (A1)
    table.overwrite(cleaned, order_by=[KEY])
    return table


def monthly_update(
    spark: SparkSession, csv_path: str, table_path: str, *, partitioned: bool = True
) -> ParquetTable:
    """Monthly incremental upsert (dags/monthly_price_paid_data.py:104-171).

    Re-delivered rows are no-ops (T3 idempotency via K3); the staging-file
    lifecycle (K9) is gone — Spark reads the landing path directly.
    """
    table = _table(spark, table_path, partitioned)
    cleaned = _read_clean(spark, csv_path)
    # A4 emptiness short-circuit (dags/monthly_price_paid_data.py:132-134):
    # a zero-row monthly delta skips the whole upsert join entirely
    if cleaned.isEmpty():
        return table
    table.insert_if_absent(cleaned, order_by=[KEY])
    return table
