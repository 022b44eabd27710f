"""Work sampling L1/L2 (SURVEY.md §2.5).

The reference selects random work batches with ``ORDER BY RANDOM() LIMIT k``
(dags/pull_new_sales_list.py:93-102, dags/rightmove_outcodes.py:50-55).
``rand()`` streams differ across engines and runs, so the engine's canonical
sampler is deterministic: order by ``md5(key)`` — a stable, uniform-ish
permutation any SQL engine reproduces (SURVEY.md §4.3#4).

Scale note: ORDER BY md5 LIMIT k is a global top-k — Spark executes it as
per-partition top-k + single-reducer merge of k·p rows (TakeOrderedAndProject),
no full sort, no full shuffle; fine for the reference's k ∈ {5, 50} even on
a 100 TB dimension.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def deterministic_sample(df: DataFrame, key: Column | str, k: int) -> DataFrame:
    """L1 — deterministic 'random' batch of k work items."""
    c = F.col(key) if isinstance(key, str) else key
    return df.orderBy(F.md5(c.cast("string"))).limit(k)


def stratified_sample(
    df: DataFrame, group_col: Column | str, key: Column | str, k: int
) -> DataFrame:
    """Deterministic stratified sample: k rows PER GROUP, selected by the
    same md5-permutation as ``deterministic_sample`` — the per-stratum work
    batch (and, in a training pipeline, the per-source/per-language holdout
    or eval slice that must stay stable across runs).

    Scale: one hash-exchange on the group column + per-group sort of only
    that group's rows (window row_number), never a global sort; output is
    |groups|·k rows. Skewed strata sort more rows but never more than the
    stratum's own size; compose with functions/skew.py salting only if a
    single stratum dwarfs executor memory.
    """
    from pyspark.sql import Window

    g = F.col(group_col) if isinstance(group_col, str) else group_col
    c = F.col(key) if isinstance(key, str) else key
    w = Window.partitionBy(g).orderBy(F.md5(c.cast("string")))
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k)
        .drop("__rn")
    )


def mixture_sample(
    df: DataFrame,
    group_col: Column | str,
    key_col: Column | str,
    target_per_group: int | None = None,
    salt: str = "mix:",
) -> DataFrame:
    """Deterministic rate-based downsampling to a target per-group size —
    the corpus MIXTURE re-balancer (north-star §2.9): cap every
    source/language/domain at ``target_per_group`` docs (default: the
    smallest group's size, i.e. fully balanced) by keeping each row with
    probability ``min(1, target / group_count)``.

    Selection is a pure hash predicate — keep iff the first 8 hex chars
    of ``md5(salt || key)`` fall below the rate's 32-bit threshold — so
    membership is a property of the ROW, not the run: re-executions,
    retried tasks, and other engines (the DuckDB oracle) select the
    identical set, and growing a group only removes members, never
    reshuffles survivors. Counts are binomial around the target, not
    exact — the price of a collect-free, shuffle-free filter; use
    ``stratified_sample`` when the budget must be met exactly.

    Scale: ONE map-side-combined count per group (|groups| rows, tiny) →
    broadcast rates → codegen hash filter over the scan. No window, no
    text or payload through any exchange, no driver collect.
    """
    g = F.col(group_col) if isinstance(group_col, str) else group_col
    k = F.col(key_col) if isinstance(key_col, str) else key_col
    counts = df.groupBy(g.alias("__g")).agg(F.count(F.lit(1)).alias("__n_in"))
    if target_per_group is None:
        counts = counts.crossJoin(
            F.broadcast(counts.agg(F.min("__n_in").alias("__tgt")))
        )
    else:
        if target_per_group < 0:
            raise ValueError(
                f"target_per_group must be >= 0, got {target_per_group}"
            )
        counts = counts.withColumn("__tgt", F.lit(target_per_group))
    rates = counts.select(
        "__g",
        F.least(F.lit(1.0), F.col("__tgt") / F.col("__n_in")).alias("__rate"),
    )
    u = F.substring(F.md5(F.concat(F.lit(salt), k.cast("string"))), 1, 8)
    # floor(rate * 2^32) fits 8 hex chars ONLY when rate < 1 (2^32 is 9
    # chars and lpad would silently TRUNCATE it to '10000000'); the
    # rate >= 1 branch keeps the whole group without touching the hash.
    thr = F.lpad(
        F.lower(
            F.conv(
                F.floor(F.col("__rate") * F.lit(4294967296.0)).cast("string"),
                10,
                16,
            )
        ),
        8,
        "0",
    )
    # eqNullSafe: a NULL group is a group like any other (groupBy already
    # produced its rate row) — a plain equality join would evaluate
    # NULL == NULL to NULL and silently DROP every null-group row from
    # the corpus instead of sampling it
    return (
        df.join(F.broadcast(rates), g.eqNullSafe(F.col("__g")))
        .where((F.col("__rate") >= 1.0) | (u < thr))
        .drop("__g", "__rate")
    )
