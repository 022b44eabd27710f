"""Scale-stress harness: validate near-linear scaling of the headline plans.

Synthesizes an upsampled copy of the sf0.1 test data (key-offset union, so
join/agg key cardinality scales with volume instead of degenerating into
hot keys) under /tmp/spark_graft_stress/sfN, runs the headline queries at
both scales, and prints per-query runtime plus the scale ratio.

This is the local stand-in for the 100 TB question the engine is designed
around: "does the plan survive a 10x scale-up without a super-linear time
blow-up?". A query whose ratio is far above the data ratio has a plan
problem (shuffle explosion, driver collect, broadcast of a now-too-big
side); those are exactly the regressions SCALE.md documents against.

Usage: python scripts_scale_stress.py [factor] [--queries q1,q3,...]
"""

from __future__ import annotations

import json
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F

from airflow_dags_spark.functions.profile import profile_query
from airflow_dags_spark.plans import registry
from airflow_dags_spark.session import get_spark
from airflow_dags_spark.sources.tables import read_table

BASE_SF_DIR = "/root/testdata/sf0.1"
STRESS_ROOT = "/tmp/spark_graft_stress"

# key columns to offset per replica so keys stay unique (FK pairs offset
# together, preserving join selectivity at every scale)
KEY_OFFSETS = {
    "lineitem": ["l_orderkey"],
    "orders": ["o_orderkey"],
    "customer": [],  # dims keep their size: fact growth, entity stability
    "supplier": [],
    "part": [],
    "nation": [],
    "region": [],
    "events": ["event_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}

# documents.text gets a per-replica salt so dedup operators see mostly-new
# content instead of a factor-x exact-duplicate explosion (which would be a
# *different* workload: every doc in one giant cluster).
SALTED_TEXT_TABLES = {"documents"}

HEADLINE = [
    "q1_pricing_summary",
    "q3_top_revenue_orders",
    "q6_forecast_revenue",
    "agg_global_stats",
    "dedup_exact",
    "dedup_minhash_bands",
    "sim_cosine_topk",
    "text_quality_stats",
    "window_tumbling_hourly",
]


def build_stress_dir(spark, factor: int) -> str:
    out_dir = os.path.join(STRESS_ROOT, f"x{factor}")
    done_marker = os.path.join(out_dir, "_BUILT")
    if os.path.exists(done_marker):
        return out_dir
    if os.path.exists(out_dir):  # partial build from an interrupted run
        shutil.rmtree(out_dir)
    os.makedirs(out_dir, exist_ok=True)
    for name, keys in KEY_OFFSETS.items():
        df = read_table(spark, BASE_SF_DIR, name)
        if not keys or factor == 1:
            reps = df
        else:
            max_keys = {
                k: df.agg(F.max(k)).first()[0] or 0 for k in keys
            }
            parts = []
            for i in range(factor):
                rep = df
                for k in keys:
                    rep = rep.withColumn(
                        k, (F.col(k) + F.lit(i * (max_keys[k] + 1))).cast("long")
                    )
                if name in SALTED_TEXT_TABLES and i > 0:
                    rep = rep.withColumn(
                        "text", F.concat(F.col("text"), F.lit(f" rep{i}"))
                    )
                parts.append(rep)
            reps = parts[0]
            for p in parts[1:]:
                reps = reps.unionByName(p)
        reps.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"{name}.parquet")
        )
    with open(done_marker, "w") as fh:
        fh.write("ok\n")
    return out_dir


def run_suite(spark, sf_dir: str, names: list[str]) -> dict[str, float]:
    out = {}
    for name in names:
        fn = registry.QUERIES[name]
        profile_query(spark, name, fn, sf_dir)  # warm
        rec = profile_query(spark, name, fn, sf_dir)
        out[name] = round(rec["build_s"] + rec["exec_s"], 3)
    return out


def main() -> None:
    factor = int(sys.argv[1]) if len(sys.argv) > 1 and sys.argv[1].isdigit() else 10
    names = HEADLINE
    for arg in sys.argv[2:]:
        if arg.startswith("--queries"):
            names = arg.split("=", 1)[1].split(",")
    registry.load_all()
    spark = get_spark(app_name="scale-stress", shuffle_partitions=32)
    spark.sparkContext.setLogLevel("ERROR")
    stress_dir = build_stress_dir(spark, factor)
    base = run_suite(spark, BASE_SF_DIR, names)
    big = run_suite(spark, stress_dir, names)
    report = {
        "factor": factor,
        "queries": {
            n: {
                "base_s": base[n],
                f"x{factor}_s": big[n],
                "ratio": round(big[n] / base[n], 2) if base[n] else None,
            }
            for n in names
        },
    }
    print(json.dumps(report))


if __name__ == "__main__":
    main()
