"""Table-maintenance operators: CDC snapshot diff, small-file compaction,
multi-column Z-order clustering.

The reference has no maintenance layer — Postgres plays this role for it
(heap autovacuum; the one manual physical-design act is the secondary index
``CREATE INDEX idx_postcode`` at ``dags/monthly_price_paid_data.py:93``).
A file-based lakehouse at 100 TB needs the equivalents as explicit
operators:

- ``table_diff``  — change-data-capture between two table snapshots (the
  set-difference that an incremental pipeline consumes instead of
  re-reading the full table every run).
- ``compact``     — small-file compaction. Every incremental
  ``insert_if_absent``/``append`` epoch adds a file per task; after months
  of 10k-row batches (ref batch size, ``monthly_price_paid_data.py:140``)
  a scan pays per-file open cost and the driver pays per-file listing
  memory. Rewrite to ~target-sized files, atomically.
- ``zorder_layout`` — interleaved-bits multi-column clustering, the
  replacement for the reference's secondary index when queries filter on
  more than the partition column: each output file covers a small
  hyper-rectangle of the clustered columns, so Parquet row-group min/max
  stats prune files for predicates on ANY clustered column.

All three are pure DataFrame/FS composition — no RDDs, no driver-side row
loops; z-values are built from bit-arithmetic column expressions that stay
inside whole-stage codegen.
"""

from __future__ import annotations

import math
from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from airflow_dags_spark.operators import commit
from airflow_dags_spark.sources.tables import read_parquet

DEFAULT_TARGET_FILE_BYTES = 128 * 1024 * 1024


# CDC snapshot diff -----------------------------------------------------------


def table_diff(
    old: DataFrame,
    new: DataFrame,
    keys: list[str],
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """Row-level diff between two snapshots of a keyed table.

    Returns one row per changed key with columns
    ``(*keys, change_type, old_<c>, new_<c> ...)`` where ``change_type`` is
    ``'insert'`` (key only in ``new``), ``'delete'`` (key only in ``old``)
    or ``'update'`` (key in both, any compare column differs null-safely).
    Unchanged keys are dropped. Rows with a NULL key never join and so
    surface as a delete+insert pair — document, don't hide.

    Scale: one shuffle (the full-outer join on the key); both sides are
    pruned to ``keys + compare_cols`` before the join so the exchange
    carries only compared bytes. Presence is tracked with indicator
    columns, not key nullability, so nullable keys don't corrupt the
    classification.
    """
    if compare_cols is None:
        compare_cols = [c for c in new.columns if c not in keys]
    o = old.select(
        *keys, *compare_cols, F.lit(True).alias("__old_present")
    ).alias("o")
    n = new.select(
        *keys, *compare_cols, F.lit(True).alias("__new_present")
    ).alias("n")
    cond = reduce(
        lambda a, b: a & b,
        [F.col(f"o.{k}").eqNullSafe(F.col(f"n.{k}")) for k in keys],
    )
    j = o.join(n, cond, "full_outer")
    any_change = reduce(
        lambda a, b: a | b,
        [
            ~F.col(f"o.{c}").eqNullSafe(F.col(f"n.{c}"))
            for c in compare_cols
        ],
        F.lit(False),
    )
    change = (
        F.when(F.col("o.__old_present").isNull(), F.lit("insert"))
        .when(F.col("n.__new_present").isNull(), F.lit("delete"))
        .when(any_change, F.lit("update"))
    )
    out_keys = [
        F.coalesce(F.col(f"o.{k}"), F.col(f"n.{k}")).alias(k) for k in keys
    ]
    out_vals = [
        c
        for col in compare_cols
        for c in (
            F.col(f"o.{col}").alias(f"old_{col}"),
            F.col(f"n.{col}").alias(f"new_{col}"),
        )
    ]
    return (
        j.withColumn("change_type", change)
        .where(F.col("change_type").isNotNull())
        .select(*out_keys, "change_type", *out_vals)
    )


# Small-file compaction -------------------------------------------------------


def _data_files(jvm, fs, path: str) -> list:
    """Recursively list data files (skips _SUCCESS/metadata)."""
    out = []
    it = fs.listFiles(jvm.org.apache.hadoop.fs.Path(path), True)
    while it.hasNext():
        st = it.next()
        name = st.getPath().getName()
        if not name.startswith(("_", ".")):
            out.append(st)
    return out


def compact(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = DEFAULT_TARGET_FILE_BYTES,
    min_files_to_compact: int = 2,
) -> dict:
    """Rewrite a parquet directory into ~``target_file_bytes`` files.

    Skips (no-op) when the table already has fewer files than
    ``min_files_to_compact`` or every file is already at target size —
    compaction must be safe to schedule unconditionally (idempotent, like
    every reference write: SURVEY.md §5.1). The rewrite is the recovering
    stage-and-swap of ``commit.swap`` (stage ``<path>.compact-*``), run
    after settling any crashed swap of ``path``: readers never observe a
    partial table.

    At 100 TB the global ``repartition(n)`` here is the *point*, not a
    cost: it is one shuffle that replaces millions of per-file opens on
    every subsequent scan. Returns ``{files_before, files_after,
    bytes, skipped}``.
    """
    commit.recover(spark, path)
    jvm, fs = commit.hadoop_fs(spark, path)
    files = _data_files(jvm, fs, path)
    total = sum(f.getLen() for f in files)
    n_target = max(1, math.ceil(total / target_file_bytes))
    if len(files) < max(min_files_to_compact, n_target + 1):
        return {
            "files_before": len(files),
            "files_after": len(files),
            "bytes": total,
            "skipped": True,
        }
    df = read_parquet(spark, path).repartition(n_target)
    commit.swap(spark, path, df.write.mode("overwrite").parquet, "compact")
    after = len(_data_files(jvm, fs, path))
    return {
        "files_before": len(files),
        "files_after": after,
        "bytes": total,
        "skipped": False,
    }


# Z-order clustering ----------------------------------------------------------

ZORDER_BITS = 16  # 2^16 buckets per dimension; z-value fits a long for ≤4 cols


def _bucket_code(col: str, bits: int) -> F.Column:
    """Uniform bucket id in [0, 2^bits) from the column's global min/max
    (min/max are injected as a scalar-aggregate literal join upstream).
    Uniform, not quantile, buckets: a driver-side approxQuantile pass would
    handle skew better but uniform needs only one cheap agg and no driver
    round-trip of boundaries; for heavily skewed layouts compose with
    functions/skew.py first."""
    lo, hi = F.col(f"__min_{col}"), F.col(f"__max_{col}")
    span = F.when(hi > lo, hi - lo).otherwise(F.lit(1.0))
    frac = (F.col(col).cast("double") - lo) / span
    n = 1 << bits
    return F.least(
        F.lit(n - 1), F.floor(frac * n).cast("long")
    )


def _interleave(codes: list[F.Column], bits: int) -> F.Column:
    """Bit-interleave k bucket codes into one z-value: pure shift/and/or
    column expressions — stays in whole-stage codegen, no UDF."""
    k = len(codes)
    parts = []
    for b in range(bits):
        for i, c in enumerate(codes):
            parts.append(
                F.shiftleft(
                    F.shiftright(c, b).bitwiseAND(F.lit(1)), b * k + i
                )
            )
    return reduce(lambda a, b: a.bitwiseOR(b), parts)


def zorder_layout(
    df: DataFrame,
    cols: list[str],
    n_files: int,
    bits: int = ZORDER_BITS,
) -> DataFrame:
    """Cluster ``df`` on the Z-order (Morton) curve of ``cols`` and shape it
    into ``n_files`` range partitions, sorted within each — write the result
    with ``.write.parquet`` and each file covers a compact hyper-rectangle,
    so row-group min/max stats prune on any clustered column (the Spark
    replacement for the reference's multi-purpose secondary index,
    ``monthly_price_paid_data.py:93``).

    Cost model: one scalar aggregate (global min/max per column, broadcast
    back via crossJoin of a 1-row frame), one range-exchange on the
    z-value. No row ever leaves the JVM.
    """
    assert 1 <= len(cols) <= 4, "z-value of >4 cols overflows a long"
    aggs = []
    for c in cols:
        aggs += [
            F.min(F.col(c).cast("double")).alias(f"__min_{c}"),
            F.max(F.col(c).cast("double")).alias(f"__max_{c}"),
        ]
    bounds = df.agg(*aggs)
    with_z = (
        df.crossJoin(F.broadcast(bounds))
        .withColumn(
            "__z", _interleave([_bucket_code(c, bits) for c in cols], bits)
        )
        .drop(*[f"__min_{c}" for c in cols], *[f"__max_{c}" for c in cols])
    )
    return (
        with_z.repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
    )


def clustering_quality(
    df_with_pid: DataFrame, cols: list[str]
) -> float:
    """Mean normalized bounding-box volume of the clustered columns per
    partition (0 → perfectly local files, 1 → every file spans the whole
    domain). Used by tests to prove z-ordering actually clusters."""
    pid = df_with_pid.withColumn("__pid", F.spark_partition_id())
    aggs = []
    for c in cols:
        aggs += [
            F.min(F.col(c).cast("double")).alias(f"pmin_{c}"),
            F.max(F.col(c).cast("double")).alias(f"pmax_{c}"),
        ]
    per_part = pid.groupBy("__pid").agg(*aggs)
    glob = df_with_pid.agg(
        *[
            a
            for c in cols
            for a in (
                F.min(F.col(c).cast("double")).alias(f"gmin_{c}"),
                F.max(F.col(c).cast("double")).alias(f"gmax_{c}"),
            )
        ]
    ).first()
    vol = None
    for c in cols:
        span = max(glob[f"gmax_{c}"] - glob[f"gmin_{c}"], 1e-12)
        frac = (F.col(f"pmax_{c}") - F.col(f"pmin_{c}")) / F.lit(span)
        vol = frac if vol is None else vol * frac
    return per_part.agg(F.avg(vol).alias("q")).first()["q"]


# Incremental view maintenance -----------------------------------------------
#
# The delta-stream form of materialized-aggregate maintenance: instead of
# recomputing a rollup from a 100 TB base table every run, fold the CDC
# change set (``table_diff`` output) into the existing aggregate state.
# Supported aggregates are the self-decomposable ones (sum/count, and
# anything derivable from them: avg = sum/cnt); min/max are NOT maintainable
# under deletes without full per-group state — recompute those.
# The reference's closest analog is the per-key watermark commit
# (``dags/pull_new_sales_list.py:267-271``): a tiny state table updated per
# run instead of a rescan.


def agg_delta(
    changes: DataFrame,
    old_group_exprs: dict,
    new_group_exprs: dict,
    old_val,
    new_val,
) -> DataFrame:
    """Grouped (d_sum, d_cnt) delta from a ``table_diff`` change set.

    Updates are modeled as retract(old) + assert(new), so rows that migrate
    between groups (a group column changed) are handled correctly: the old
    group loses the row, the new group gains it. ``old_group_exprs`` /
    ``new_group_exprs`` map output group-column names to expressions over
    the change set's ``old_*`` / ``new_*`` columns (or the diff keys).
    NULL measure values contribute to d_cnt but not d_sum/d_nn — the
    non-null delta count lets the merged state report ``sum_v = NULL`` for
    all-NULL groups, exactly like a direct ``sum``.
    """
    ct = F.col("change_type")
    retract = changes.where(ct != "insert").select(
        *[e.alias(n) for n, e in old_group_exprs.items()],
        (F.lit(-1) * old_val).cast("decimal(28,2)").alias("__v"),
        F.lit(-1).alias("__w"),
    )
    assert_ = changes.where(ct != "delete").select(
        *[e.alias(n) for n, e in new_group_exprs.items()],
        new_val.cast("decimal(28,2)").alias("__v"),
        F.lit(1).alias("__w"),
    )
    names = list(old_group_exprs)
    return (
        retract.unionByName(assert_)
        .groupBy(*names)
        .agg(
            F.sum("__v").alias("d_sum"),
            F.sum(
                F.when(F.col("__v").isNotNull(), F.col("__w")).otherwise(0)
            ).cast("long").alias("d_nn"),
            F.sum("__w").cast("long").alias("d_cnt"),
        )
    )


def merge_agg_state(
    state: DataFrame, delta: DataFrame, keys: list[str]
) -> DataFrame:
    """Fold a grouped delta into aggregate state ``(keys, sum_v, nn, cnt)``.

    Full-outer on the group keys; groups whose count reaches zero are
    dropped (the group vanished from the base table), and groups whose
    non-null count reaches zero report ``sum_v = NULL`` (SQL sum-of-no-
    values), so maintained state is indistinguishable from a recompute.
    One shuffle, sized by |groups|, not |base table| — that is the entire
    point of IVM at scale.
    """
    s = state.alias("s")
    d = delta.alias("d")
    cond = reduce(
        lambda a, b: a & b,
        [F.col(f"s.{k}").eqNullSafe(F.col(f"d.{k}")) for k in keys],
    )
    zero = F.lit(0).cast("decimal(28,2)")
    nn = (
        F.coalesce(F.col("s.nn"), F.lit(0))
        + F.coalesce(F.col("d.d_nn"), F.lit(0))
    ).cast("long")
    merged = s.join(d, cond, "full_outer").select(
        *[
            F.coalesce(F.col(f"s.{k}"), F.col(f"d.{k}")).alias(k)
            for k in keys
        ],
        F.when(
            nn > 0,
            F.coalesce(F.col("s.sum_v"), zero)
            + F.coalesce(F.col("d.d_sum"), zero),
        ).alias("sum_v"),
        nn.alias("nn"),
        (
            F.coalesce(F.col("s.cnt"), F.lit(0))
            + F.coalesce(F.col("d.d_cnt"), F.lit(0))
        ).cast("long").alias("cnt"),
    )
    return merged.where(F.col("cnt") > 0)


def agg_state(df: DataFrame, group_exprs: dict, val) -> DataFrame:
    """Build initial aggregate state ``(keys, sum_v decimal, nn, cnt)`` —
    the bootstrap recompute that subsequent ``merge_agg_state`` calls
    maintain (``nn`` = non-null value count, needed to reproduce SQL's
    NULL-sum for all-NULL groups under later deltas)."""
    return df.groupBy(
        *[e.alias(n) for n, e in group_exprs.items()]
    ).agg(
        F.sum(val.cast("decimal(28,2)")).alias("sum_v"),
        F.count(val).alias("nn"),
        F.count("*").alias("cnt"),
    )


def join_delta(
    a_old: DataFrame,
    d_a: DataFrame,
    b_old: DataFrame,
    d_b: DataFrame,
    on: list[str] | str,
) -> DataFrame:
    """Incremental maintenance of an inner equi-join VIEW (the join
    counterpart of agg_delta/merge_agg_state): for append-only inputs,

        Δ(A ⋈ B) = dA ⋈ B  ∪  A ⋈ dB  ∪  dA ⋈ dB

    The three legs are disjoint and complete (a joined row is new iff its
    A-side is new, its B-side is new, or both), so ``old_view ∪ Δ`` IS the
    new view — no recompute of A ⋈ B. At 100 TB the deltas are the small
    sides: both big legs broadcast the delta and stream ONE pass over the
    big input; with zone maps/partitioning the big-side scan prunes to the
    delta's key range. Updates/deletes generalize by running the same rule
    over retract/assert change sets (table_diff output); append-only here
    matches the reference's ingest pattern (monthly inserts)."""
    keys = [on] if isinstance(on, str) else list(on)
    t1 = d_a.join(b_old, keys)
    t2 = a_old.join(d_b, keys)
    t3 = d_a.join(d_b, keys)
    return t1.unionByName(t2).unionByName(t3)


def minmax_state(df: DataFrame, group_exprs: dict, val) -> DataFrame:
    """Initial MAX aggregate state ``(keys, max_v, cnt)`` for
    ``merge_minmax_state`` — the non-invertible-aggregate counterpart of
    ``agg_state`` (cnt drives group-vanish handling, exactly as there)."""
    return df.groupBy(
        *[e.alias(n) for n, e in group_exprs.items()]
    ).agg(F.max(val).alias("max_v"), F.count(F.lit(1)).alias("cnt"))


def merge_minmax_state(
    state: DataFrame,
    changes: DataFrame,
    base_after: DataFrame,
    keys: list[str],
    group_exprs: dict,
    old_val,
    new_val,
    base_group_exprs: dict | None = None,
    base_val=None,
) -> DataFrame:
    """Maintain a grouped MAX under inserts AND deletes/updates.

    MAX is not invertible — a delete of a non-extreme row folds in for
    free, but deleting the CURRENT maximum of a group leaves no way to
    derive the runner-up from state alone. The standard treatment
    (Palpanas et al., VLDB'02 — "unaffected" vs "affected" groups):

    - inserts merge as ``greatest(state.max_v, delta_max_ins)`` — O(|Δ|);
    - a group is AFFECTED only when a deleted/retracted value EQUALS its
      current max; exactly those groups are recomputed, via a semi-join
      of ``base_after`` against the affected-key set — a pruned scan of
      the touched groups' partitions, never the whole base.

    ``changes`` is a change set with ``change_type`` in
    (insert|delete|update); updates count as retract(old)+assert(new)
    within ONE group (``group_exprs`` is evaluated once per row — model a
    group-migrating update as an explicit delete row plus insert row).
    Counts maintain exactly (weights ±1) and drop vanished groups. The
    result is indistinguishable from a full recompute of ``base_after``
    (whose own column shape is described by ``base_group_exprs`` /
    ``base_val`` when it differs from the change set's).
    """
    names = list(group_exprs)
    ct = F.col("change_type")
    ins = (
        changes.where(ct != "delete")
        .select(
            *[e.alias(n) for n, e in group_exprs.items()],
            new_val.alias("__v"),
        )
        .groupBy(*names)
        .agg(F.max("__v").alias("ins_max"), F.count("__v").alias("ins_cnt"))
    )
    # old-side group expressions: retractions belong to the OLD grouping
    dele = (
        changes.where(ct != "insert")
        .select(
            *[e.alias(n) for n, e in group_exprs.items()],
            old_val.alias("__v"),
        )
        .groupBy(*names)
        .agg(F.max("__v").alias("del_max"), F.count("__v").alias("del_cnt"))
    )
    s = state.alias("s")
    merged = (
        s.join(ins.alias("i"), names, "full_outer")
        .join(dele.alias("d"), names, "full_outer")
        .select(
            *names,
            F.col("s.max_v").alias("max_v"),
            F.col("i.ins_max").alias("ins_max"),
            (
                F.coalesce(F.col("s.cnt"), F.lit(0))
                + F.coalesce(F.col("i.ins_cnt"), F.lit(0))
                - F.coalesce(F.col("d.del_cnt"), F.lit(0))
            ).cast("long").alias("cnt"),
            # affected ⇔ some retracted value ties the current group max
            (
                F.col("d.del_max").isNotNull()
                & (F.col("d.del_max") >= F.coalesce(F.col("s.max_v"), F.col("d.del_max")))
            ).alias("affected"),
        )
        .where(F.col("cnt") > 0)
    )
    clean = merged.where(~F.col("affected")).select(
        *names,
        F.greatest(F.col("max_v"), F.col("ins_max")).alias("max_v"),
        "cnt",
    )
    affected_keys = merged.where(F.col("affected")).select(*names, "cnt")
    bg = base_group_exprs if base_group_exprs is not None else group_exprs
    bv = base_val if base_val is not None else new_val
    recomputed = (
        base_after.select(
            *[e.alias(n) for n, e in bg.items()],
            bv.alias("__v"),
        )
        .join(F.broadcast(affected_keys.select(*names)), names, "left_semi")
        .groupBy(*names)
        .agg(F.max("__v").alias("max_v"))
        .join(F.broadcast(affected_keys), names)
        .select(*names, "max_v", "cnt")
    )
    return clean.unionByName(recomputed)


def topk_state(
    df: DataFrame, group_exprs: dict, val, ident, k: int
) -> DataFrame:
    """Initial per-group top-k state ``(keys, __id, __v)`` ordered by
    (value desc, id asc) — for ``merge_topk_state``. Like MAX (and unlike
    SUM), top-k is non-invertible: state alone cannot replace a deleted
    member, so the merge tracks affected groups."""
    names = list(group_exprs)
    base = df.select(
        *[e.alias(n) for n, e in group_exprs.items()],
        ident.alias("__id"),
        val.alias("__v"),
    )
    w = Window.partitionBy(*names).orderBy(F.desc("__v"), F.asc("__id"))
    return (
        base.withColumn("__rk", F.row_number().over(w))
        .where(F.col("__rk") <= k)
        .drop("__rk")
    )


def merge_topk_state(
    state: DataFrame,
    changes: DataFrame,
    base_after: DataFrame,
    keys: list[str],
    k: int,
) -> DataFrame:
    """Maintain per-group top-k under inserts AND deletes (the MAX-IVM
    treatment generalized to k ranks, same affected/unaffected split as
    ``merge_minmax_state``):

    - a group is AFFECTED only when a deleted id currently sits in its
      top-k state (if the group holds fewer than k rows, every member is
      in state, so shrinkage is covered by the same test); exactly those
      groups recompute via a broadcast-semi-join-pruned scan of
      ``base_after``;
    - every other group merges its inserts against the k-row state and
      re-ranks O(k + |Δg|) rows — no base scan.

    ``changes`` columns: ``change_type`` (insert|delete|update), the
    group keys, ``__id``, ``__v`` (null for deletes). As in
    ``merge_minmax_state``, an ``update`` counts as retract(old id) +
    assert(new value) within ONE group — if the updated id sits in the
    group's top-k state the group recomputes, otherwise the new value
    merges like an insert. Any OTHER change_type raises (a silently
    dropped change kind would leave stale state with no error; the
    validation is a distinct() over the delta's one column — deltas are
    small by the IVM premise). ``base_after`` columns: keys, ``__id``,
    ``__v``. Result ≡ recomputing top-k from ``base_after`` — the
    registry oracle asserts exactly that equivalence."""
    ct = F.col("change_type")
    known = {"insert", "delete", "update"}
    seen = {r[0] for r in changes.select("change_type").distinct().collect()}
    if not seen <= known:
        # key=repr: a NULL change_type arrives as None, which is not
        # orderable against str — a plain sorted() would raise TypeError
        # and mask this diagnostic
        bad = sorted(seen - known, key=repr)
        raise ValueError(
            f"merge_topk_state: unrecognized change_type values {bad} "
            f"(NULL shown as None); expected {sorted(known)}"
        )
    dels = changes.where(ct != "insert").select(*keys, "__id")
    affected = dels.join(state, keys + ["__id"], "semi").select(*keys).distinct()
    recomputed = base_after.join(F.broadcast(affected), keys, "semi")
    w = Window.partitionBy(*keys).orderBy(F.desc("__v"), F.asc("__id"))
    recomputed = (
        recomputed.withColumn("__rk", F.row_number().over(w))
        .where(F.col("__rk") <= k)
        .drop("__rk")
    )
    survivors = state.join(F.broadcast(affected), keys, "anti")
    ins = (
        changes.where(ct != "delete")
        .select(*keys, "__id", "__v")
        .join(F.broadcast(affected), keys, "anti")
    )
    merged = (
        survivors.unionByName(ins)
        .withColumn("__rk", F.row_number().over(w))
        .where(F.col("__rk") <= k)
        .drop("__rk")
    )
    return merged.unionByName(recomputed)
