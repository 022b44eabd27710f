"""sources/tables.py:read_parquet — table opens that take the schema from
the footer Spark wrote instead of running Spark's schema-inference job."""

from __future__ import annotations

import datetime as dt
import decimal

import pytest

from airflow_dags_spark.operators.upsert import ParquetTable
from airflow_dags_spark.sources.tables import footer_schema, read_parquet

ROWS = [
    (1, decimal.Decimal("1.50"), dt.datetime(2020, 1, 1, 8), dt.datetime(2020, 1, 2), [1, 2], "a", 3),
    (2, None, None, None, None, "b", 4),
]
SCHEMA = (
    "id bigint not null, d decimal(12,2), ts timestamp, tsn timestamp_ntz, "
    "arr array<int>, s string, p int"
)


@pytest.mark.parametrize("partition_by", [[], ["p"], ["s", "p"]])
def test_footer_schema_equals_inferred_schema(spark, tmp_path, partition_by):
    path = str(tmp_path / "t")
    spark.createDataFrame(ROWS, SCHEMA).write.partitionBy(*partition_by).parquet(path)
    inferred = spark.read.parquet(path)
    stored = footer_schema(spark, path)
    # the footer holds the data columns; partition columns are directory names
    assert stored.names == [c for c in inferred.columns if c not in partition_by]
    opened = read_parquet(spark, path)
    assert opened.schema == inferred.schema  # nullability included
    assert sorted(opened.collect()) == sorted(inferred.collect())


def test_parquet_table_read_runs_no_job(spark, tmp_path, count_jobs):
    table = ParquetTable(spark, str(tmp_path / "t"), "id", partition_by=["p"])
    table.create_if_not_exists(spark.createDataFrame(ROWS, SCHEMA))
    df, jobs = count_jobs(table.read)
    assert jobs == 0
    assert df.columns == ["id", "d", "ts", "tsn", "arr", "s", "p"]
    assert df.count() == 2


def test_pyarrow_written_file_falls_back_to_inference(spark, tmp_path, count_jobs):
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = tmp_path / "t"
    path.mkdir()
    pq.write_table(
        pa.table({"id": pa.array([1, 2], pa.int64()), "v": ["x", "y"]}),
        str(path / "part-0.parquet"),
    )
    assert footer_schema(spark, str(path)) is None
    df, jobs = count_jobs(lambda: read_parquet(spark, str(path)))
    assert jobs >= 1  # Spark's own schema inference ran
    assert df.schema == spark.read.parquet(str(path)).schema
    assert sorted(df.collect()) == [(1, "x"), (2, "y")]
