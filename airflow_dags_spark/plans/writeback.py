"""Upsert semantics as pure dataflow queries (K3–K7, SURVEY.md §2.2).

The K3/K4/K5/K7 queries call the write library's own result-set functions
(operators/upsert.py: ``rows_to_insert``, ``merged_table``,
``without_keys``) — the code ``ParquetTable``'s keyed writes run — on
side-effect-free frames over the driver tables, and keep only their column
selection, so DuckDB oracle-checks the library's join/coalesce semantics
exactly. Their keys are unique and non-null, so they skip the write verbs'
first-wins dedup:

- target := orders with o_orderkey % 3 = 0 (existing table)
- source := orders with o_orderkey % 2 = 0, with shifted totalprice
  (incoming batch; overlap at % 6 = 0 exercises the conflict paths)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from airflow_dags_spark.operators import upsert
from airflow_dags_spark.operators.maintenance import table_diff
from airflow_dags_spark.plans.registry import register
from airflow_dags_spark.sources.tables import read_table


def _target(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = read_table(spark, sf_dir, "orders")
    return o.where(F.col("o_orderkey") % 3 == 0).select(
        "o_orderkey", F.round("o_totalprice", 2).alias("price"), "o_orderstatus"
    )


def _source(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = read_table(spark, sf_dir, "orders")
    return o.where(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey",
        F.round(F.col("o_totalprice") + 1000.0, 2).alias("price"),
        F.lit("U").alias("o_orderstatus"),
    )


_TGT_SQL = """
  SELECT o_orderkey, ROUND(o_totalprice, 2) AS price, o_orderstatus
  FROM orders WHERE o_orderkey % 3 = 0
"""
_SRC_SQL = """
  SELECT o_orderkey, ROUND(o_totalprice + 1000.0, 2) AS price,
         'U' AS o_orderstatus
  FROM orders WHERE o_orderkey % 2 = 0
"""


K3_ORACLE = f"""
WITH tgt AS ({_TGT_SQL}), src AS ({_SRC_SQL})
SELECT * FROM tgt
UNION ALL
SELECT s.* FROM src s WHERE NOT EXISTS (
  SELECT 1 FROM tgt t WHERE t.o_orderkey = s.o_orderkey
)
"""


@register("k3_insert_if_absent", K3_ORACLE)
def k3_insert_if_absent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K3 — ON CONFLICT DO NOTHING as target ∪ ``rows_to_insert``, the
    write library's source ⟕anti target (dags/monthly_price_paid_data.py:
    147-155). The anti-join is the entire physical cost; broadcast when the
    batch is small."""
    tgt = _target(spark, sf_dir)
    return tgt.unionByName(upsert.rows_to_insert(tgt, _source(spark, sf_dir), ["o_orderkey"]))


K4_ORACLE = f"""
WITH tgt AS ({_TGT_SQL}), src AS ({_SRC_SQL})
SELECT
  COALESCE(t.o_orderkey, s.o_orderkey)       AS o_orderkey,
  COALESCE(s.price, t.price)                 AS price,
  COALESCE(t.o_orderstatus, s.o_orderstatus) AS o_orderstatus
FROM tgt t
FULL OUTER JOIN src s ON t.o_orderkey = s.o_orderkey
"""


@register("k4_merge_upsert", K4_ORACLE)
def k4_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K4 — ON CONFLICT DO UPDATE SET price=EXCLUDED.price: full-outer join +
    per-column coalesce (the write library's ``merged_table``);
    o_orderstatus is NOT in the update set, so matched
    rows keep the target's status (dags/pull_new_sales_list.py:252-261 updates
    only updated_date)."""
    return upsert.merged_table(
        _target(spark, sf_dir), _source(spark, sf_dir), ["o_orderkey"], ["price"]
    )


K5_ORACLE = """
WITH tgt AS (
  SELECT n_nationkey, n_name, n_regionkey FROM nation
), upd AS (
  SELECT UPPER(n_name) AS key_name, n_regionkey + 100 AS new_region
  FROM nation WHERE n_nationkey % 2 = 0
)
SELECT
  t.n_nationkey,
  t.n_name,
  COALESCE(u.new_region, t.n_regionkey) AS n_regionkey
FROM tgt t
LEFT JOIN upd u ON LOWER(t.n_name) = LOWER(u.key_name)
"""


@register("k5_case_insensitive_update", K5_ORACLE)
def k5_case_insensitive_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K5 — keyed UPDATE with case-insensitive key: join-update on
    lower(key) + coalesce (dags/rightmove_outcodes.py:58-69), the write
    library's ``merged_table`` with ``case_insensitive=True``. Updates carry
    upper-cased keys to prove the lower() match path; every one matches a
    target row, so the full outer join is the oracle's LEFT JOIN."""
    n = read_table(spark, sf_dir, "nation")
    upd = n.where(F.col("n_nationkey") % 2 == 0).select(
        F.upper("n_name").alias("n_name"),
        (F.col("n_regionkey") + 100).alias("n_regionkey"),
    )
    tgt = n.select("n_nationkey", "n_name", "n_regionkey")
    merged = upsert.merged_table(tgt, upd, ["n_name"], case_insensitive=True)
    return merged.select(*tgt.columns)


K6_ORACLE = """
SELECT o_custkey AS custkey,
       MAX(CAST(strftime(o_orderdate, '%Y%m%d') AS BIGINT)) AS last_processed
FROM orders
GROUP BY o_custkey
"""


@register("k6_watermark_advance", K6_ORACLE)
def k6_watermark_advance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K6/T1 — per-key processed-through watermark: the commit value each key
    would advance to after a run (dags/pull_new_sales_list.py:267-271)."""
    o = read_table(spark, sf_dir, "orders")
    return o.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.max(F.date_format("o_orderdate", "yyyyMMdd").cast("bigint")).alias(
            "last_processed"
        )
    )


CDC_ORACLE = f"""
WITH tgt AS ({_TGT_SQL}), src AS ({_SRC_SQL})
SELECT COALESCE(t.o_orderkey, s.o_orderkey) AS o_orderkey,
       CASE WHEN t.o_orderkey IS NULL THEN 'insert'
            WHEN s.o_orderkey IS NULL THEN 'delete'
            ELSE 'update' END AS change_type,
       t.price AS old_price, s.price AS new_price,
       t.o_orderstatus AS old_o_orderstatus,
       s.o_orderstatus AS new_o_orderstatus
FROM tgt t FULL OUTER JOIN src s ON t.o_orderkey = s.o_orderkey
WHERE t.o_orderkey IS NULL OR s.o_orderkey IS NULL
   OR t.price IS DISTINCT FROM s.price
   OR t.o_orderstatus IS DISTINCT FROM s.o_orderstatus
"""


@register("cdc_table_diff", CDC_ORACLE)
def cdc_table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC snapshot diff (operators/maintenance.py:table_diff): the change
    set an incremental consumer reads instead of rescanning the table —
    insert/update/delete classification with old/new values, unchanged keys
    dropped. The source shifts every price, so overlap keys (%6=0) are all
    updates; %3-only keys are deletes, %2-only inserts."""
    return table_diff(
        _target(spark, sf_dir),
        _source(spark, sf_dir),
        ["o_orderkey"],
        compare_cols=["price", "o_orderstatus"],
    )


IVM_ORACLE = f"""
WITH src AS ({_SRC_SQL})
SELECT o_orderkey % 10 AS bucket,
       CAST(ROUND(SUM(CAST(price AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_price,
       CAST(COUNT(*) AS BIGINT) AS cnt
FROM src GROUP BY o_orderkey % 10
"""


@register("ivm_incremental_agg", IVM_ORACLE)
def ivm_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance (operators/maintenance.py): bootstrap
    aggregate state from the OLD snapshot, fold in the CDC delta from
    table_diff, and the result must equal a direct recompute over the NEW
    snapshot — which is exactly what the oracle computes. The maintenance
    shuffle is sized by |groups|, not |base table|."""
    from airflow_dags_spark.operators.maintenance import (
        agg_delta,
        agg_state,
        merge_agg_state,
    )

    old, new = _target(spark, sf_dir), _source(spark, sf_dir)
    bucket = F.col("o_orderkey") % 10
    state = agg_state(old, {"bucket": bucket}, F.col("price"))
    changes = table_diff(
        old, new, ["o_orderkey"], compare_cols=["price", "o_orderstatus"]
    )
    delta = agg_delta(
        changes,
        {"bucket": bucket},
        {"bucket": bucket},
        F.col("old_price"),
        F.col("new_price"),
    )
    final = merge_agg_state(state, delta, ["bucket"])
    return final.select(
        "bucket",
        F.round(F.col("sum_v"), 2).cast("double").alias("sum_price"),
        F.col("cnt"),
    )


K7_ORACLE = f"""
WITH tgt AS ({_TGT_SQL}),
del AS (SELECT o_orderkey FROM orders WHERE o_orderkey % 5 = 0)
SELECT t.* FROM tgt t
WHERE NOT EXISTS (SELECT 1 FROM del d WHERE d.o_orderkey = t.o_orderkey)
"""


@register("k7_delete_keys", K7_ORACLE)
def k7_delete_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K7 — keyed DELETE as the anti-join result set (``without_keys``, the
    function ``ParquetTable.delete_keys`` rewrites with; the physical write path — touched-partition
    pruning + empty-partition directory removal — is pytest round-tripped in
    tests/test_upsert.py). The anti-join broadcasts the (small) key batch
    and streams the target: O(batch ⋈ touched), never O(table) compute."""
    o = read_table(spark, sf_dir, "orders")
    del_keys = o.where(F.col("o_orderkey") % 5 == 0).select("o_orderkey")
    return upsert.without_keys(_target(spark, sf_dir), del_keys, ["o_orderkey"])


IVM_JOIN_ORACLE = """
WITH a_old AS (
  SELECT o_orderkey, o_custkey AS cust, ROUND(o_totalprice, 2) AS price
  FROM orders WHERE o_orderkey % 4 != 0),
d_a AS (
  SELECT o_orderkey, o_custkey AS cust, ROUND(o_totalprice, 2) AS price
  FROM orders WHERE o_orderkey % 4 = 0),
b_old AS (
  SELECT c_custkey AS cust, c_name FROM customer WHERE c_custkey % 5 != 0),
d_b AS (
  SELECT c_custkey AS cust, c_name FROM customer WHERE c_custkey % 5 = 0)
SELECT * FROM (
  SELECT a.o_orderkey, a.cust, a.price, b.c_name
  FROM (SELECT * FROM a_old UNION ALL SELECT * FROM d_a) a
  JOIN (SELECT * FROM b_old UNION ALL SELECT * FROM d_b) b USING (cust)
  EXCEPT
  SELECT a.o_orderkey, a.cust, a.price, b.c_name
  FROM a_old a JOIN b_old b USING (cust))
"""


@register("ivm_join_delta", IVM_JOIN_ORACLE)
def ivm_join_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental JOIN-view maintenance: the engine computes the delta by
    the three-leg rule (operators/maintenance.py:join_delta) touching only
    delta⋈table legs; the oracle computes it the expensive way — new join
    EXCEPT old join — proving the rule's algebra exactly (orders are
    unique per key, so set EXCEPT is multiplicity-safe)."""
    o = read_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_custkey").alias("cust"),
        F.round("o_totalprice", 2).alias("price"),
    )
    c = read_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("cust"), "c_name"
    )
    a_old = o.where(F.col("o_orderkey") % 4 != 0)
    d_a = o.where(F.col("o_orderkey") % 4 == 0)
    b_old = c.where(F.col("cust") % 5 != 0)
    d_b = c.where(F.col("cust") % 5 == 0)
    from airflow_dags_spark.operators.maintenance import join_delta

    return join_delta(a_old, d_a, b_old, d_b, "cust").select(
        "o_orderkey", "cust", "price", "c_name"
    )
