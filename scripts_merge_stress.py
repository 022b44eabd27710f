"""Merge-path scale stress: measure the O(touched-partitions) claim.

``ParquetTable.merge_upsert`` promises (operators/upsert.py docstring):
partitioned targets merge only the partitions PRESENT IN THE BATCH —
O(touched), not O(table) — while unpartitioned targets pay a full rewrite.

This script measures that directly: an 84-month-partitioned orders table at
1x (sf0.1) and 10x (the key-offset upsample that
scripts_scale_stress.py:build_stress_dir writes), merged with a batch
touching ONE month (~1.2% of partitions). If the claim holds, partitioned
merge time is ~flat from 1x to 10x while the unpartitioned full rewrite
scales with the table.

Usage: python scripts_merge_stress.py [factor]      (default 10)
Prints one JSON line; numbers are recorded in SCALE.md.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F

from airflow_dags_spark.operators.upsert import ParquetTable
from airflow_dags_spark.session import get_spark
from airflow_dags_spark.sources.tables import read_table
from scripts_scale_stress import BASE_SF_DIR, build_stress_dir

ROOT = "/tmp/spark_graft_merge_stress"


def orders_with_month(spark, factor: int):
    sf_dir = BASE_SF_DIR if factor == 1 else build_stress_dir(spark, factor)
    o = read_table(spark, sf_dir, "orders")
    return o.withColumn("o_month", F.date_format("o_orderdate", "yyyyMM"))


def build_target(spark, df, name: str, partition_by):
    path = f"{ROOT}/{name}"
    t = ParquetTable(spark, path, "o_orderkey", partition_by=partition_by)
    t.overwrite(df, ["o_orderkey"])
    return t


def one_month_batch(spark, df, n=1000):
    """A batch updating n rows, all inside ONE month partition."""
    month = df.select("o_month").orderBy("o_month").first()[0]
    return (
        df.where(F.col("o_month") == month)
        .orderBy("o_orderkey")
        .limit(n)
        .withColumn("o_comment", F.lit("merged-by-stress"))
    )


def all_months_batch(spark, df, n=1000):
    """Same batch SIZE but spread over every partition (worst case for the
    touched-partition pruning: touched == all)."""
    return (
        df.orderBy(F.md5(F.col("o_orderkey").cast("string")))
        .limit(n)
        .withColumn("o_comment", F.lit("merged-by-stress"))
    )


def timed_merge(t: ParquetTable, batch) -> float:
    start = time.perf_counter()
    t.merge_upsert(batch, order_by=["o_orderkey"])
    return round(time.perf_counter() - start, 2)


def main() -> None:
    factor = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    shutil.rmtree(ROOT, ignore_errors=True)
    spark = get_spark(app_name="merge-stress", shuffle_partitions=32)
    spark.sparkContext.setLogLevel("ERROR")

    out: dict[str, object] = {"factor": factor}
    for fx, tag in ((1, "1x"), (factor, f"{factor}x")):
        df = orders_with_month(spark, fx)
        # materialize the batch BEFORE timing (it reads the pre-merge table)
        flat = build_target(spark, df, f"flat_{tag}", None)
        part = build_target(spark, df, f"part_{tag}", ["o_month"])
        n_partitions = df.select("o_month").distinct().count()
        batch = one_month_batch(spark, spark.read.parquet(part.path))
        batch.cache().count()
        spread = all_months_batch(spark, spark.read.parquet(part.path))
        spread.cache().count()
        out[f"rows_{tag}"] = df.count()
        out[f"partitions_{tag}"] = n_partitions
        out[f"merge_flat_{tag}_sec"] = timed_merge(flat, batch)
        out[f"merge_part_1touched_{tag}_sec"] = timed_merge(part, batch)
        out[f"merge_part_alltouched_{tag}_sec"] = timed_merge(part, spread)
        batch.unpersist()
        spread.unpersist()

    out["part_1touched_scale_ratio"] = round(
        out[f"merge_part_1touched_{factor}x_sec"]
        / out["merge_part_1touched_1x_sec"],
        2,
    )
    out["flat_scale_ratio"] = round(
        out[f"merge_flat_{factor}x_sec"] / out["merge_flat_1x_sec"], 2
    )
    out["touched_ratio_at_max"] = round(
        out[f"merge_part_alltouched_{factor}x_sec"]
        / out[f"merge_part_1touched_{factor}x_sec"],
        2,
    )
    print(json.dumps(out))
    spark.stop()
    shutil.rmtree(ROOT, ignore_errors=True)


if __name__ == "__main__":
    main()
