"""Round-3 registry additions: regression aggregates, sweep-line interval
concurrency, gaps-and-islands streaks, PQ ANN, two-level semantic dedup.

Registered LAST (registry.load_all order) so these append AFTER every
existing query in the driver's self-rotating verification window — new
names must never displace the queued unverified queries of the current
round (driver checks only the first 50 of ``queries()``).

Reference parity note: like the rest of §2.10, these go beyond the
reference's literal surface (its SQL lives in Postgres strings,
dags/pull_new_sales_list.py etc.) — they are the standard warehouse/
LLM-pipeline operations the engine needs for parity with what those
Postgres queries COULD express, each with a DuckDB oracle where SQL can
express it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from airflow_dags_spark.plans.registry import register
from airflow_dags_spark.sources.tables import read_table

# --- linear-regression aggregate sweep ---------------------------------------

REGR_ORACLE = """
SELECT l_returnflag,
       ROUND(regr_slope(l_extendedprice, l_quantity), 6)     AS slope,
       ROUND(regr_intercept(l_extendedprice, l_quantity), 6) AS intercept,
       ROUND(regr_r2(l_extendedprice, l_quantity), 6)        AS r2,
       CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT) AS n,
       ROUND(regr_avgx(l_extendedprice, l_quantity), 6)      AS avg_x,
       ROUND(regr_avgy(l_extendedprice, l_quantity), 6)      AS avg_y,
       ROUND(corr(l_extendedprice, l_quantity), 6)           AS pearson_r,
       ROUND(median(l_quantity), 6)                          AS median_qty
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


@register("regr_linear_functions", REGR_ORACLE)
def regr_linear_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-standard linear-regression aggregate family (regr_*): all six
    are moment combinations → one partial+final hash aggregate, no
    driver math.

    The exact ``median`` runs as its OWN aggregation and joins back on
    the 3-row group frame: mixing a sort-based aggregate (percentile)
    into the moments groupBy forces the ENTIRE aggregation into
    interpreted ObjectHashAggregate — measured 2.5× slower (1.13 s →
    0.44 s at sf0.1) than letting the seven moment aggregates run in
    whole-stage-codegen HashAggregate and paying one extra 2-column scan
    for the percentile buffer (r10 optimization round; results
    bit-identical, oracle-verified)."""
    li = read_table(spark, sf_dir, "lineitem")
    y, x = F.col("l_extendedprice"), F.col("l_quantity")
    moments = li.groupBy("l_returnflag").agg(
        F.round(F.regr_slope(y, x), 6).alias("slope"),
        F.round(F.regr_intercept(y, x), 6).alias("intercept"),
        F.round(F.regr_r2(y, x), 6).alias("r2"),
        F.regr_count(y, x).alias("n"),
        F.round(F.regr_avgx(y, x), 6).alias("avg_x"),
        F.round(F.regr_avgy(y, x), 6).alias("avg_y"),
        F.round(F.corr(y, x), 6).alias("pearson_r"),
    )
    med = li.groupBy("l_returnflag").agg(
        F.round(F.median(x), 6).alias("median_qty")
    )
    return (
        moments.join(med, "l_returnflag")
        .select(
            "l_returnflag", "slope", "intercept", "r2", "n",
            "avg_x", "avg_y", "pearson_r", "median_qty",
        )
        .orderBy("l_returnflag")
    )


# --- sweep-line interval concurrency -----------------------------------------

CONCURRENCY_ORACLE = """
WITH spans AS (
    SELECT ts AS t, 1 AS delta FROM events
    UNION ALL
    -- FLOOR before the int cast: Spark's double->int CAST truncates while
    -- DuckDB's rounds half-even; floor makes both engines agree
    SELECT ts + INTERVAL 1 MINUTE * CAST(FLOOR(value) AS INT) AS t, -1 AS delta
    FROM events
), running AS (
    SELECT t, SUM(delta) OVER (
        ORDER BY t, delta
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
    ) AS live
    FROM spans
)
SELECT STRFTIME(t, '%Y-%m-%d')     AS day,
       CAST(MAX(live) AS BIGINT)   AS max_concurrent
FROM running
GROUP BY STRFTIME(t, '%Y-%m-%d')
ORDER BY day
"""


@register("events_max_concurrency", CONCURRENCY_ORACLE)
def events_max_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent sessions per day by sweep line: each event spans
    [ts, ts + value minutes); +1/-1 boundary deltas, one global running sum,
    max per day. Ends sort before starts at equal timestamps (delta asc) —
    half-open intervals, consistently on both engines.

    Scale shape: the global running sum uses the prefix-sum composition
    (functions/scalable_windows.bucketed_running_sum, bucketed by
    to_date(t) — monotone in the (t, delta) order): within-day sweeps run
    in parallel, only the |days|-row offset cascade is globally ordered.
    The naive global-window form measured 3.7× time at 10× data; this
    form is ~1× (SCALE.md). Interval spans crossing midnight are handled
    exactly — the day bucket partitions the DELTA STREAM, not the
    intervals: an event ending tomorrow contributes +1 today and its −1
    lands in tomorrow's bucket, carried by the offset."""
    from airflow_dags_spark.functions.scalable_windows import bucketed_running_sum

    ev = read_table(spark, sf_dir, "events")
    starts = ev.select(F.col("ts").alias("t"), F.lit(1).alias("delta"))
    ends = ev.select(
        F.expr("ts + make_interval(0,0,0,0,0, CAST(FLOOR(value) AS INT), 0)").alias("t"),
        F.lit(-1).alias("delta"),
    )
    running = bucketed_running_sum(
        starts.unionByName(ends), "delta", ["t", "delta"], F.to_date("t"), "live"
    )
    return (
        running.groupBy(F.date_format("t", "yyyy-MM-dd").alias("day"))
        .agg(F.max("live").cast("bigint").alias("max_concurrent"))
        .orderBy("day")
    )


# --- gaps-and-islands: consecutive-day activity streaks ----------------------

STREAKS_ORACLE = """
WITH days AS (
    SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
), grouped AS (
    SELECT user_id, d,
           d - CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY d) AS INT)
             AS island
    FROM days
), islands AS (
    SELECT user_id, island, COUNT(*) AS len FROM grouped
    GROUP BY user_id, island
)
SELECT user_id,
       CAST(MAX(len) AS BIGINT)  AS longest_streak,
       CAST(COUNT(*) AS BIGINT)  AS n_islands
FROM islands
GROUP BY user_id
ORDER BY user_id
"""


@register("gaps_islands_streaks", STREAKS_ORACLE)
def gaps_islands_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-active-day streak per user — the classic
    gaps-and-islands rewrite: day − row_number is constant within a run of
    consecutive days, so islands fall out of one window + one groupBy
    (both shuffles on user_id, and AQE coalesces them to one exchange
    reuse). No self-join, no iteration."""
    from pyspark.sql import Window

    ev = read_table(spark, sf_dir, "events")
    days = ev.select("user_id", F.to_date("ts").alias("d")).distinct()
    rn = F.row_number().over(Window.partitionBy("user_id").orderBy("d"))
    grouped = days.withColumn("island", F.date_sub(F.col("d"), rn))
    islands = grouped.groupBy("user_id", "island").agg(
        F.count(F.lit(1)).alias("len")
    )
    return (
        islands.groupBy("user_id")
        .agg(
            F.max("len").alias("longest_streak"),
            F.count(F.lit(1)).alias("n_islands"),
        )
        .orderBy("user_id")
    )


# --- one-pass data-quality expectations --------------------------------------

DQ_EXPECT_ORACLE = """
WITH m AS (
    SELECT
        ROUND(AVG(CASE WHEN o_custkey IS NOT NULL THEN 1.0 ELSE 0.0 END), 6) + 0.0
            AS complete_custkey,
        ROUND(CAST(COUNT(DISTINCT o_orderkey) AS DOUBLE) / COUNT(*), 6) + 0.0
            AS unique_orderkey,
        ROUND(CAST(MIN(o_totalprice) AS DOUBLE), 6) + 0.0 AS min_price,
        ROUND(AVG(CASE WHEN o_orderstatus IN ('O','F','P') THEN 1.0 ELSE 0.0 END), 6) + 0.0
            AS in_set_status,
        ROUND(AVG(CASE WHEN regexp_matches(o_orderpriority, '^[1-5]-[A-Z ]+$')
                       THEN 1.0 ELSE 0.0 END), 6) + 0.0 AS regex_prio,
        ROUND(CAST(COUNT(*) AS DOUBLE), 6) + 0.0 AS n_rows
    FROM orders
)
SELECT 'complete(o_custkey)' AS "constraint", complete_custkey AS observed,
       complete_custkey >= 1.0 AS passed FROM m
UNION ALL
SELECT 'unique(o_orderkey)', unique_orderkey, unique_orderkey >= 1.0 FROM m
UNION ALL
SELECT 'min(o_totalprice)>=0.0', min_price, min_price >= 0.0 FROM m
UNION ALL
SELECT 'in_set(o_orderstatus,[O,F,P])', in_set_status, in_set_status >= 1.0 FROM m
UNION ALL
SELECT 'regex(o_orderpriority)', regex_prio, regex_prio >= 1.0 FROM m
UNION ALL
SELECT 'row_count', n_rows, n_rows >= 1 FROM m
ORDER BY "constraint"
"""


@register("dq_expectations", DQ_EXPECT_ORACLE)
def dq_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative quality audit (functions/quality.py): six constraints —
    completeness, uniqueness, bound, set membership, regex, row count —
    compiled into ONE aggregation pass (plan-gated: a single exchange; adding
    constraints adds agg columns, never jobs). The lakehouse stand-in for
    the reference's Postgres DDL constraints."""
    from airflow_dags_spark.functions.quality import Expectations

    orders = read_table(spark, sf_dir, "orders")
    return (
        Expectations()
        .expect_complete("o_custkey")
        .expect_unique("o_orderkey")
        .expect_min("o_totalprice", 0.0)
        .expect_in_set("o_orderstatus", ["O", "F", "P"])
        .expect_regex("o_orderpriority", r"^[1-5]-[A-Z ]+$")
        .expect_row_count(1)
        .run(orders)
        .orderBy("constraint")
    )


# --- array higher-order-function sweep ---------------------------------------

ARRAY_HOF_ORACLE = """
SELECT vec_id,
       len(list_filter(embedding, x -> x > 0))                  AS n_pos,
       len(list_filter(embedding, x -> x > 0.5)) > 0            AS any_large,
       len(list_filter(embedding, x -> abs(x) >= 10)) = 0       AS all_bounded,
       ROUND(CAST(list_dot_product(CAST(embedding AS DOUBLE[]),
                                   CAST(embedding AS DOUBLE[])) AS DOUBLE), 4) + 0.0
                                                                AS self_dot,
       ROUND(CAST(list_sort(embedding)[2] AS DOUBLE), 4) + 0.0  AS second_min
FROM embeddings
"""


@register("array_hof_functions", ARRAY_HOF_ORACLE)
def array_hof_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array functions (§2.6 continuation): filter / exists /
    forall / zip_with+aggregate (dot product) / array_sort — the lambda
    forms the vector operators build on. All evaluate inside the scan
    stage's projection; zero shuffles."""
    e = read_table(spark, sf_dir, "embeddings")
    as_dbl = F.transform(F.col("embedding"), lambda x: x.cast("double"))

    def r4(col):
        return (F.round(col, 4) + F.lit(0.0)).alias

    return e.select(
        "vec_id",
        F.size(F.filter("embedding", lambda x: x > 0)).alias("n_pos"),
        F.exists("embedding", lambda x: x > 0.5).alias("any_large"),
        F.forall("embedding", lambda x: F.abs(x) < 10).alias("all_bounded"),
        r4(
            F.aggregate(
                F.zip_with(as_dbl, as_dbl, lambda x, y: x * y),
                F.lit(0.0),
                lambda a, x: a + x,
            )
        )("self_dot"),
        r4(F.sort_array("embedding").getItem(1).cast("double"))("second_min"),
    )


# --- argmax/argmin via struct aggregation (window-free top-1 per group) ------

ARGMAX_ORACLE = """
WITH ranked_hi AS (
    SELECT l_returnflag, l_extendedprice, l_orderkey,
           ROW_NUMBER() OVER (PARTITION BY l_returnflag
                              ORDER BY l_extendedprice DESC, l_orderkey DESC) AS rn
    FROM lineitem
), ranked_lo AS (
    SELECT l_returnflag, l_extendedprice, l_orderkey,
           ROW_NUMBER() OVER (PARTITION BY l_returnflag
                              ORDER BY l_extendedprice ASC, l_orderkey ASC) AS rn
    FROM lineitem
)
SELECT h.l_returnflag,
       ROUND(h.l_extendedprice, 2) AS top_price,
       h.l_orderkey                AS top_orderkey,
       ROUND(l.l_extendedprice, 2) AS low_price,
       l.l_orderkey                AS low_orderkey
FROM ranked_hi h JOIN ranked_lo l
  ON h.l_returnflag = l.l_returnflag AND h.rn = 1 AND l.rn = 1
ORDER BY h.l_returnflag
"""


@register("agg_argmax_struct", ARGMAX_ORACLE)
def agg_argmax_struct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-1-per-group WITHOUT a window sort: ``max(struct(value, key))``
    is a plain hash aggregate — partial max per partition, one exchange of
    one struct per group — where the window form sorts every partition.
    At 100 TB this is the difference between an agg over the scan and a
    full sort of the fact table; ties break lexicographically on the
    struct (value, then key), deterministic on both engines."""
    li = read_table(spark, sf_dir, "lineitem")
    hi = F.max(F.struct(F.col("l_extendedprice").alias("p"), F.col("l_orderkey").alias("k")))
    lo = F.min(F.struct(F.col("l_extendedprice").alias("p"), F.col("l_orderkey").alias("k")))
    return (
        li.groupBy("l_returnflag")
        .agg(hi.alias("hi"), lo.alias("lo"))
        .select(
            "l_returnflag",
            F.round(F.col("hi.p"), 2).alias("top_price"),
            F.col("hi.k").alias("top_orderkey"),
            F.round(F.col("lo.p"), 2).alias("low_price"),
            F.col("lo.k").alias("low_orderkey"),
        )
        .orderBy("l_returnflag")
    )


# --- error-tolerant (try_*) scalar functions ---------------------------------

TRY_FUNCS_ORACLE = """
SELECT o_orderkey,
       CASE WHEN o_custkey % 7 = 0 THEN NULL
            ELSE ROUND(o_totalprice / (o_custkey % 7), 4) END     AS div_or_null,
       ROUND([o_totalprice, CAST(o_custkey AS DOUBLE)][5], 4)     AS oob_elem,
       TRY_CAST(substr(o_orderpriority, 1, 1) AS INT)             AS prio_num,
       TRY_CAST(o_orderpriority AS INT)                           AS bad_int,
       STRFTIME(try_strptime(o_comment_date, '%Y-%m-%d'), '%Y-%m-%d %H:%M:%S')
                                                                  AS parsed_date
FROM (
    SELECT o_orderkey, o_totalprice, o_custkey, o_orderpriority,
           CASE WHEN o_orderkey % 3 = 0 THEN 'not-a-date'
                ELSE '2024-01-15' END AS o_comment_date
    FROM orders
) t
ORDER BY o_orderkey
LIMIT 5000
"""


@register("scalar_try_functions", TRY_FUNCS_ORACLE)
def scalar_try_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-tolerant scalar family (§2.3 P5/P6/P15 continuation):
    try_divide / try_element_at / try_cast / try_to_timestamp — NULL on
    bad input instead of a failed task, the lake-scale version of the
    reference's per-row try/except parse quarantine
    (dags/monthly_price_paid_data.py:120-141). All evaluate in the scan
    stage; DuckDB mirrors each with CASE/TRY_CAST/try_strptime."""
    o = read_table(spark, sf_dir, "orders").withColumn(
        "o_comment_date",
        F.when(F.col("o_orderkey") % 3 == 0, F.lit("not-a-date")).otherwise(
            F.lit("2024-01-15")
        ),
    )
    return (
        o.select(
            "o_orderkey",
            F.round(
                F.try_divide(F.col("o_totalprice"), F.col("o_custkey") % 7), 4
            ).alias("div_or_null"),
            F.round(
                F.try_element_at(
                    F.array(F.col("o_totalprice"), F.col("o_custkey").cast("double")),
                    F.lit(5),
                ),
                4,
            ).alias("oob_elem"),
            F.expr("try_cast(substr(o_orderpriority, 1, 1) AS INT)").alias("prio_num"),
            F.expr("try_cast(o_orderpriority AS INT)").alias("bad_int"),
            F.date_format(
                F.try_to_timestamp(F.col("o_comment_date"), F.lit("yyyy-MM-dd")),
                "yyyy-MM-dd HH:mm:ss",
            ).alias("parsed_date"),
        )
        .orderBy("o_orderkey")
        .limit(5000)
    )


# --- LTTB downsampling (rows-only: shape-preserving, not SQL-expressible) ----


@register("timeseries_lttb", None)  # triangle-area selection → rows-only
def timeseries_lttb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-Triangle-Three-Buckets downsample to 50 points per user —
    the shape-preserving reduction a dashboard/inspection layer runs over
    raw event series. Exactness vs a pure-python reference implementation
    is pytest-verified (tests/test_timeseries.py)."""
    from airflow_dags_spark.functions.timeseries import lttb_downsample

    ev = read_table(spark, sf_dir, "events")
    return lttb_downsample(ev, 50)


# --- ORC format parity -------------------------------------------------------

ORC_SCAN_ORACLE = """
SELECT l_returnflag,
       CAST(COUNT(*) AS BIGINT)                       AS n,
       ROUND(CAST(SUM(l_extendedprice) AS DOUBLE), 2) AS revenue
FROM lineitem
WHERE l_quantity > 10
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


@register("source_orc_scan", ORC_SCAN_ORACLE)
def source_orc_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC interchange parity (S-family widening): lineitem staged to ORC,
    re-read, aggregated — hash-identical to the same aggregate over the
    parquet original, proving the columnar round trip loses nothing
    (types, nulls, values). The filter runs on the ORC read: ORC carries
    the same predicate-pushdown/column-pruning contract as parquet."""
    import os as _os
    import shutil
    import tempfile

    from pyspark.storagelevel import StorageLevel

    from airflow_dags_spark.sources.formats import read_table_fmt, write_table

    li = read_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_quantity", "l_extendedprice"
    )
    d = tempfile.mkdtemp(prefix="orc_parity_")
    try:
        path = _os.path.join(d, "lineitem_orc")
        write_table(li, path, "orc")
        back = read_table_fmt(spark, path, "orc").where(F.col("l_quantity") > 10)
        out = (
            back.groupBy("l_returnflag")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.round(F.sum("l_extendedprice"), 2).alias("revenue"),
            )
            .orderBy("l_returnflag")
            # materialize BEFORE the tempdir is removed
            .localCheckpoint(eager=True, storageLevel=StorageLevel.DISK_ONLY)
        )
    finally:
        shutil.rmtree(d, ignore_errors=True)
    return out


# --- n-gram containment (asymmetric subset-duplication check) ----------------


def _containment_oracle() -> str:
    # reuse llm.py's shingle macro so both checks share ONE normalization
    from airflow_dags_spark.plans.llm import _SHINGLES

    return f"""
WITH sh AS (SELECT doc_id, {_SHINGLES} AS s FROM documents)
SELECT a.doc_id AS key_a, b.doc_id AS key_b,
  CASE WHEN len(a.s) > 0
       THEN ROUND(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(a.s), 6)
       END AS containment_a,
  CASE WHEN len(b.s) > 0
       THEN ROUND(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(b.s), 6)
       END AS containment_b,
  ROUND(
    CASE WHEN len(list_distinct(list_concat(a.s, b.s))) > 0
         THEN CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
              / len(list_distinct(list_concat(a.s, b.s)))
         ELSE 0.0 END, 6) AS jaccard
FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1
"""


@register("dedup_ngram_containment", _containment_oracle())
def dedup_ngram_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment on candidate pairs: |A∩B|/|A| and /|B| catch
    SUBSET duplication (a doc quoted whole inside a 10× larger one scores
    Jaccard ≈ 0.1 but containment_a = 1.0 — the standard curation drop
    rule). Consecutive doc_ids stand in for LSH candidates, as in
    dedup_ngram_jaccard, keeping the check linear."""
    from airflow_dags_spark.operators.dedup import ngram_containment

    d = read_table(spark, sf_dir, "documents")
    a = d.select(F.col("doc_id").alias("key_a"), F.col("text").alias("text_a"))
    b = d.select(F.col("doc_id").alias("key_b"), F.col("text").alias("text_b"))
    pairs = a.join(b, F.col("key_b") == F.col("key_a") + 1)
    return ngram_containment(pairs, "text_a", "text_b", n_shingle=3).select(
        "key_a", "key_b", "containment_a", "containment_b", "jaccard"
    )


# --- Bloom-index point lookup + deletion-vector logical delete ---------------

POINT_LOOKUP_ORACLE = """
SELECT l_orderkey, l_linenumber, l_partkey,
       ROUND(l_extendedprice, 2) AS price
FROM lineitem
WHERE l_orderkey = 1000
ORDER BY l_linenumber
"""


@register("point_lookup_bloom_index", POINT_LOOKUP_ORACLE)
def point_lookup_bloom_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Needle-in-the-lake point lookup: lineitem staged as 8 range-sharded
    files, a per-file Bloom index built once, then the lookup opens ONLY
    Bloom-surviving files (typically one). Result is exact either way (the
    residual equality filter catches Bloom FPs) and must hash-match a plain
    WHERE on the original table. Zone maps answer ranges; this is the
    value-level evidence path for high-cardinality non-layout columns."""
    import os as _os
    import shutil
    import tempfile

    from pyspark.storagelevel import StorageLevel

    from airflow_dags_spark.operators.skipping import collect_file_blooms, point_lookup

    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_extendedprice"
    )
    d = tempfile.mkdtemp(prefix="bloom_idx_")
    try:
        path = _os.path.join(d, "li_sharded")
        li.repartitionByRange(8, "l_orderkey").write.parquet(path)
        out = (
            point_lookup(
                spark, path, "l_orderkey", 1000,
                blooms=collect_file_blooms(spark, path, "l_orderkey"),
            )
            .select(
                "l_orderkey",
                "l_linenumber",
                "l_partkey",
                F.round(F.col("l_extendedprice"), 2).alias("price"),
            )
            .orderBy("l_linenumber")
            .localCheckpoint(eager=True, storageLevel=StorageLevel.DISK_ONLY)
        )
    finally:
        shutil.rmtree(d, ignore_errors=True)
    return out


DV_DELETE_ORACLE = """
SELECT o_orderstatus,
       CAST(COUNT(*) AS BIGINT)                       AS n,
       ROUND(CAST(SUM(o_totalprice) AS DOUBLE), 2)    AS total
FROM orders
WHERE o_orderkey % 97 <> 0
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


@register("k7b_deletion_vector", DV_DELETE_ORACLE)
def k7b_deletion_vector(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K7 continuation — merge-on-read DELETE: orders staged as a keyed
    table, every 97th key logically deleted into the deletion-vector
    sidecar (ZERO data files rewritten), then read_current() aggregates.
    Must hash-match a plain WHERE NOT on the original — proving the
    vectored read is exactly DELETE semantics at O(|keys|) write cost."""
    import os as _os
    import shutil
    import tempfile

    from pyspark.storagelevel import StorageLevel

    from airflow_dags_spark.operators.upsert import ParquetTable

    orders = read_table(spark, sf_dir, "orders")
    d = tempfile.mkdtemp(prefix="dv_")
    try:
        t = ParquetTable(spark, _os.path.join(d, "orders"), "o_orderkey")
        t.create_if_not_exists(orders)
        t.logical_delete(
            orders.where(F.col("o_orderkey") % 97 == 0).select("o_orderkey")
        )
        out = (
            t.read_current()
            .groupBy("o_orderstatus")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.round(F.sum("o_totalprice"), 2).alias("total"),
            )
            .orderBy("o_orderstatus")
            .localCheckpoint(eager=True, storageLevel=StorageLevel.DISK_ONLY)
        )
    finally:
        shutil.rmtree(d, ignore_errors=True)
    return out


# --- timezone scalar sweep ---------------------------------------------------

TZ_FUNCS_ORACLE = """
WITH base AS (
    -- the events span January only; the +68d copy crosses the US March-10
    -- DST transition so the offset genuinely takes two values
    SELECT event_id, ts, ts + INTERVAL 68 DAY AS ts2 FROM events
), conv AS (
    SELECT event_id, ts, ts2,
           CAST(ts  AS TIMESTAMPTZ) AT TIME ZONE 'America/New_York' AS ny,
           CAST(ts2 AS TIMESTAMPTZ) AT TIME ZONE 'America/New_York' AS ny2,
           CAST(ts  AS TIMESTAMPTZ) AT TIME ZONE 'Asia/Tokyo'       AS tokyo
    FROM base
)
SELECT event_id,
       STRFTIME(ny, '%Y-%m-%d %H:%M:%S')                          AS ny_wall,
       CAST(EXTRACT(hour FROM tokyo) AS INT)                      AS tokyo_hour,
       CAST(CAST((ny AT TIME ZONE 'America/New_York') AS TIMESTAMP) = ts
            AS BOOLEAN)                                           AS roundtrip_ok,
       CAST((EXTRACT(epoch FROM ny) - EXTRACT(epoch FROM ts)) / 3600
            AS INT)                                               AS ny_offset_h,
       CAST((EXTRACT(epoch FROM ny2) - EXTRACT(epoch FROM ts2)) / 3600
            AS INT)                                               AS ny_offset_h_spring
FROM conv
ORDER BY event_id
LIMIT 5000
"""


@register("scalar_timezone_functions", TZ_FUNCS_ORACLE)
def scalar_timezone_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timezone conversion sweep (§2.6 continuation): from/to_utc_timestamp
    wall-clock conversion, the round-trip law to_utc(from_utc(ts)) == ts,
    and DST-aware offsets — the raw events sit in January (EST, −5) and a
    +68-day shifted copy crosses the March-10 US transition, so
    ny_offset_h_spring takes BOTH −5 and −4 and the engines must agree at
    the switch instants. Spark's from_utc_timestamp ≡ DuckDB's
    ``TIMESTAMPTZ AT TIME ZONE`` naive result under a UTC session."""
    ev = read_table(spark, sf_dir, "events").withColumn(
        "ts2", F.expr("ts + make_interval(0,0,0,68,0,0,0)")
    )
    ny = F.from_utc_timestamp(F.col("ts"), "America/New_York")
    ny2 = F.from_utc_timestamp(F.col("ts2"), "America/New_York")
    tokyo = F.from_utc_timestamp(F.col("ts"), "Asia/Tokyo")

    def _off(conv, src):
        return (
            (F.unix_timestamp(conv) - F.unix_timestamp(F.col(src).cast("timestamp")))
            / 3600
        ).cast("int")

    return (
        ev.select(
            "event_id",
            F.date_format(ny, "yyyy-MM-dd HH:mm:ss").alias("ny_wall"),
            F.hour(tokyo).cast("int").alias("tokyo_hour"),
            (
                F.to_utc_timestamp(ny, "America/New_York") == F.col("ts")
            ).alias("roundtrip_ok"),
            # ts is TIMESTAMP_NTZ — no direct long cast; unix_timestamp
            # interprets both sides in the (UTC) session zone
            _off(ny, "ts").alias("ny_offset_h"),
            _off(ny2, "ts2").alias("ny_offset_h_spring"),
        )
        .orderBy("event_id")
        .limit(5000)
    )


# --- two-phase distinct (expand-free COUNT DISTINCT under group skew) --------

TWOPHASE_DISTINCT_ORACLE = """
SELECT event_type,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(COUNT(*) AS BIGINT)                AS n_events
FROM events
GROUP BY event_type
ORDER BY event_type
"""


@register("agg_count_distinct_twophase", TWOPHASE_DISTINCT_ORACLE)
def agg_count_distinct_twophase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT(DISTINCT) as two plain aggregations: groupBy(key, value) →
    groupBy(key). Semantically identical to count_distinct (the oracle),
    physically different where it matters: mixing count_distinct with
    other aggregates makes Spark EXPAND every row (one replica per
    aggregate), and a hot group's distinct set still converges on one
    reducer — the two-phase form partial-aggregates (key, value) pairs
    map-side, so the wire carries distinct pairs and the hot group's
    work spreads across reducers in phase 1. The row count rides along
    via a per-pair count summed in phase 2 — still no second scan."""
    ev = read_table(spark, sf_dir, "events")
    pairs = ev.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).alias("__n")
    )
    return (
        pairs.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.sum("__n").alias("n_events"),
        )
        .orderBy("event_type")
    )


# --- k-anonymity release gate ------------------------------------------------

K_ANON_ORACLE = """
WITH g AS (
    SELECT event_type,
           CAST(EXTRACT(hour FROM ts) AS INT) AS hour_of_day,
           user_id // 10 AS user_decade,
           value
    FROM events
), sized AS (
    SELECT *, COUNT(*) OVER (
        PARTITION BY event_type, hour_of_day, user_decade
    ) AS gs FROM g
)
SELECT event_type, hour_of_day, user_decade,
       CAST(COUNT(*) AS BIGINT)                 AS n,
       ROUND(CAST(SUM(value) AS DOUBLE), 2)     AS total_value
FROM sized WHERE gs >= 5
GROUP BY event_type, hour_of_day, user_decade
ORDER BY event_type, hour_of_day, user_decade
"""


@register("privacy_k_anonymize", K_ANON_ORACLE)
def privacy_k_anonymize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity release gate (functions/privacy.py): generalize the
    quasi-identifiers (hour-of-day, user decade), suppress combinations
    shared by fewer than k=5 rows, aggregate the released rows. One window
    shuffle over the quasi columns; every released group is ≥ k by
    construction — the property the oracle re-derives independently."""
    from airflow_dags_spark.functions.privacy import k_anonymize

    ev = read_table(spark, sf_dir, "events")
    g = ev.select(
        "event_type",
        F.hour("ts").alias("hour_of_day"),
        F.expr("user_id div 10").alias("user_decade"),
        "value",
    )
    anon = k_anonymize(g, ["event_type", "hour_of_day", "user_decade"], 5)
    return (
        anon.groupBy("event_type", "hour_of_day", "user_decade")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .orderBy("event_type", "hour_of_day", "user_decade")
    )


# --- single-reducer-killer window rewrites -----------------------------------

BUCKETED_RUNSUM_ORACLE = """
SELECT event_id,
       ROUND(SUM(value) OVER (
           ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ), 2) AS running_sum
FROM events
ORDER BY event_id
"""


@register("window_running_sum_bucketed", BUCKETED_RUNSUM_ORACLE)
def window_running_sum_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GLOBAL running sum without Exchange SinglePartition: within-day
    prefix sums in parallel + a |days|-row offset cascade broadcast back —
    prefix-sum composition over a bucket expression monotone in the order
    (to_date(ts) under (ts, event_id) order). Hash-identical to the plain
    global window (the oracle); the plan gate asserts the table-sized
    single-partition exchange is gone. This is the rewrite
    events_max_concurrency's scale note promises."""
    from airflow_dags_spark.functions.scalable_windows import bucketed_running_sum

    ev = read_table(spark, sf_dir, "events")
    out = bucketed_running_sum(
        ev.select("event_id", "ts", "value"),
        "value",
        ["ts", "event_id"],
        F.to_date("ts"),
    )
    return out.select(
        "event_id", F.round("running_sum", 2).alias("running_sum")
    ).orderBy("event_id")


SALTED_TOPN_ORACLE = """
SELECT user_id, event_id,
       ROUND(value, 2) AS value
FROM (
    SELECT user_id, event_id, value,
           ROW_NUMBER() OVER (PARTITION BY user_id
                              ORDER BY value DESC, event_id ASC) AS rn
    FROM events
) t WHERE rn <= 3
ORDER BY user_id, value DESC, event_id
"""


@register("window_topn_salted", SALTED_TOPN_ORACLE)
def window_topn_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key top-3 with HOT keys split across 16 salted reducers: local
    top-3 per (key, salt), then top-3 of the ≤48 survivors per key — the
    second window's per-key input is bounded no matter how skewed the key.
    Hash-identical to the plain window top-N (total order: value desc,
    event_id asc)."""
    from airflow_dags_spark.functions.scalable_windows import salted_topn_per_key

    ev = read_table(spark, sf_dir, "events").select("user_id", "event_id", "value")
    out = salted_topn_per_key(
        ev,
        "user_id",
        [F.col("value").desc(), F.col("event_id").asc()],
        3,
        salt_src="event_id",
    )
    return out.select(
        "user_id", "event_id", F.round("value", 2).alias("value")
    ).orderBy("user_id", F.col("value").desc(), "event_id")


# --- CMS join-size estimation + Bloom-filtered join --------------------------

_CMS_H3 = (
    "(('0x' || substr(md5(CAST({salt} AS VARCHAR) || '|' || "
    "CAST({col} AS VARCHAR)), 1, 8))::BIGINT % 2048)"
)

CMS_JOIN_SIZE_ORACLE = f"""
WITH cms_o AS (
  SELECT r, b, count(*) AS cnt FROM (
    SELECT t.i AS r, {_CMS_H3.format(salt='t.i', col='o_custkey')} AS b
    FROM orders CROSS JOIN range(4) t(i)
  ) GROUP BY r, b
),
cms_c AS (
  SELECT r, b, count(*) AS cnt FROM (
    SELECT t.i AS r, {_CMS_H3.format(salt='t.i', col='c_custkey')} AS b
    FROM customer CROSS JOIN range(4) t(i)
  ) GROUP BY r, b
),
dots AS (
  SELECT a.r, SUM(a.cnt * b.cnt) AS dot
  FROM cms_o a JOIN cms_c b ON a.r = b.r AND a.b = b.b
  GROUP BY a.r
)
SELECT CAST(MIN(dot) AS BIGINT) AS est_join_size FROM dots
"""


@register("sketch_cms_join_size", CMS_JOIN_SIZE_ORACLE)
def sketch_cms_join_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-cardinality estimation from two Count-Min sketches (AMS inner
    product: |A⋈B| = Σ fA(v)·fB(v), estimated as min over depth rows of
    the counter dot product — always ≥ truth). Drives broadcast-vs-shuffle
    and reorder decisions from two FIXED-SIZE counter tables that persist
    and merge under appends — planning never rescans the lake. Exact
    collision pattern oracle-checked, not a tolerance."""
    from airflow_dags_spark.functions.probabilistic import (
        cms_build,
        cms_join_size_estimate,
    )

    orders = read_table(spark, sf_dir, "orders")
    customer = read_table(spark, sf_dir, "customer")
    est = cms_join_size_estimate(
        cms_build(orders, "o_custkey"), cms_build(customer, "c_custkey")
    )
    return est.select(F.col("est_join_size").cast("bigint").alias("est_join_size"))


BLOOM_JOIN_ORACLE = """
SELECT l.l_orderkey,
       CAST(COUNT(*) AS BIGINT)                    AS n_lines,
       ROUND(CAST(SUM(l.l_extendedprice) AS DOUBLE), 2) AS revenue
FROM lineitem l
JOIN (SELECT o_orderkey FROM orders WHERE o_totalprice > 400000) o
  ON l.l_orderkey = o.o_orderkey
GROUP BY l.l_orderkey
ORDER BY l.l_orderkey
"""


@register("join_bloom_reduced", BLOOM_JOIN_ORACLE)
def join_bloom_reduced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-join reduction: the fact side is pre-filtered by a Bloom of the
    selective dim's keys BEFORE any exchange (k JVM-side md5 bit tests via
    broadcast word-table joins — no Python, no shuffle), then joined
    exactly — hash-identical to the plain join because the join absorbs
    Bloom false positives. The shuffle carries only maybe-matching rows;
    at 100 TB with a 0.1% selective dim that is a ~1000× exchange
    reduction."""
    from airflow_dags_spark.operators.bloomjoin import bloom_filtered_join

    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice"
    )
    sel = (
        read_table(spark, sf_dir, "orders")
        .where(F.col("o_totalprice") > 400000)
        .select(F.col("o_orderkey").alias("l_orderkey"))
    )
    joined = bloom_filtered_join(li, sel, "l_orderkey")
    return (
        joined.groupBy("l_orderkey")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.round(F.sum("l_extendedprice"), 2).alias("revenue"),
        )
        .orderBy("l_orderkey")
    )


# --- hidden partitioning -----------------------------------------------------

HIDDEN_PART_ORACLE = """
SELECT user_id,
       CAST(COUNT(*) AS BIGINT)                    AS n,
       ROUND(CAST(SUM(value) AS DOUBLE), 2)        AS total
FROM events
WHERE ts >= TIMESTAMP '2024-01-02 00:00:00'
  AND ts <= TIMESTAMP '2024-01-04 23:59:59'
  AND user_id IN (3, 4, 5)
GROUP BY user_id
ORDER BY user_id
"""


@register("hidden_partition_scan", HIDDEN_PART_ORACLE)
def hidden_partition_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg-style hidden partitioning end-to-end: events staged under
    days(ts) × bucket(8, user_id) transforms, then scanned with predicates
    on the DATA columns only — the engine derives static PartitionFilters
    (plan-gated in tests/test_hidden_partitioning.py) and the aggregate
    must hash-match a plain WHERE on the original table."""
    import datetime
    import os as _os
    import shutil
    import tempfile

    from pyspark.storagelevel import StorageLevel

    from airflow_dags_spark.operators.hidden_partitioning import (
        HiddenPartitionTable,
    )

    ev = read_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "value"
    )
    d = tempfile.mkdtemp(prefix="hidden_part_")
    try:
        t = HiddenPartitionTable(
            spark,
            _os.path.join(d, "events_hp"),
            [("p_day", "day", "ts", None), ("p_bucket", "bucket", "user_id", 8)],
        )
        t.write(ev)
        lo = datetime.datetime(2024, 1, 2, 0, 0, 0)
        hi = datetime.datetime(2024, 1, 4, 23, 59, 59)
        out = (
            t.scan({"ts": (lo, hi), "user_id": [3, 4, 5]})
            .groupBy("user_id")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.round(F.sum("value"), 2).alias("total"),
            )
            .orderBy("user_id")
            .localCheckpoint(eager=True, storageLevel=StorageLevel.DISK_ONLY)
        )
    finally:
        shutil.rmtree(d, ignore_errors=True)
    return out


# --- PQ ANN + two-level semantic dedup (rows-only: seeded-fit internals) -----


@register("sim_ann_pq_topk", None)  # sampled codebook fit → rows-only
def sim_ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN over the embeddings table: corpus stored as
    m one-byte codes, queries scan via per-subspace LUTs (ADC), exact
    re-rank of the top-3k. Recall vs brute force is pytest-bounded
    (tests/test_approx_ops.py)."""
    from airflow_dags_spark.operators.similarity import pq_ann_topk

    emb = read_table(spark, sf_dir, "embeddings")
    return pq_ann_topk(
        emb, 10, query_filter=F.col("vec_id") < 5, m=8, n_codes=32, refine=30
    )


@register("dedup_semantic_twolevel", None)  # k-means fit is engine-internal
def dedup_semantic_twolevel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level SemDeDup: bounded coarse quantizer + per-oversized-cell
    sub-quantizers — the shape that keeps broadcast size bounded when the
    n/target rule would exceed the cluster cap. Summarized per final cell;
    equivalence to the single-level rule inside final cells is
    pytest-verified (tests/test_clustering.py)."""
    from airflow_dags_spark.operators.clustering import semantic_dedup_two_level

    emb = read_table(spark, sf_dir, "embeddings")
    # target 50 / split-at-100: with ~4 coarse cells over the 500-vector
    # test corpus the oversized cells really do split, so the driver row
    # exercises the batched sub-fit path, not just the unsplit fall-through
    marked = semantic_dedup_two_level(
        emb, 0.15, coarse_clusters=4, target_cluster_size=50,
        split_factor=2, max_iter=5,
    )
    return (
        marked.groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.sum(F.col("kept").cast("bigint")).alias("n_kept"),
            F.max("best_lower_sim").alias("max_dup_sim"),
        )
        .orderBy("cluster")
    )
