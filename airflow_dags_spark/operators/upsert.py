"""Engine-owned MERGE/upsert library over plain Parquet (SURVEY.md §4.3#1).

Spark core has no ``MERGE INTO`` for parquet; rather than take a Delta
dependency, the engine implements the reference's three write disciplines as
join-based rewrites with an atomic directory-swap commit:

- ``insert_if_absent``  — K3, ``ON CONFLICT DO NOTHING``
  (dags/monthly_price_paid_data.py:147-155)
- ``merge_upsert``      — K4/K5, ``ON CONFLICT DO UPDATE`` incl.
  case-insensitive keys (dags/pull_new_sales_list.py:252-261,
  dags/rightmove_outcodes.py:58-69)
- ``advance_watermark`` — K6/T1, per-key processed-through commit
  (dags/pull_new_sales_list.py:236-239,267-271)

Semantics decisions (documented, tested):
- duplicate keys in the source: first-wins by an explicit ``order_by``
  (matching the reference's seen-set dedup A1); required, not optional —
  nondeterministic survivors don't survive a correctness gate.
- null source keys: rejected (the reference's keys are NOT NULL PKs).
- atomicity: full rewrites go through ``commit.swap``: the new data is
  staged to ``<path>.stage-<uuid8>``, then swapped in with two renames
  (live → ``<path>.old-<uuid8>``, stage → live). Recovery rule: every swap,
  and ``exists()``/``read()`` when ``<path>`` is missing, first settles a
  crashed swap — a backup beside a live ``<path>`` is deleted, a backup
  with no live ``<path>`` is renamed back (the old view). A reader thus
  sees the old table or the new one, and a crash leaves at most an orphan
  stage for ``vacuum_orphans``. Partition-pruned rewrites (dynamic
  partition overwrite) inherit Spark's own commit protocol instead: a
  crash mid-write can leave some touched partitions rewritten and others
  not; replaying the same call repairs it. At 100 TB the same API would
  sit on a table format (Delta/Iceberg MERGE) — the call sites don't
  change.

Scale notes:
- the join is the whole cost: source⋈target on the key. Small source
  (incremental batch) → broadcast the SOURCE, stream the target through it;
  Spark picks this automatically under the session broadcast threshold.
- rewriting the full target per merge is the plain-parquet tax; with a
  partitioned target only partitions containing matched keys need rewrite
  (dynamic partition overwrite) — ``partition_by`` enables that here.
"""

from __future__ import annotations

import uuid

from pyspark.errors import AnalysisException
from pyspark.sql import Column, DataFrame, DataFrameWriter, SparkSession, Window
from pyspark.sql import functions as F

from airflow_dags_spark.operators import commit
from airflow_dags_spark.sources.tables import read_parquet


class ParquetTable:
    """A path-backed parquet table with keyed-write discipline."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        key: str | list[str],
        *,
        case_insensitive: bool = False,
        partition_by: list[str] | None = None,
    ) -> None:
        self.spark = spark
        self.path = path
        self.keys = [key] if isinstance(key, str) else list(key)
        self.case_insensitive = case_insensitive
        self.partition_by = partition_by or []

    # -- filesystem helpers (Hadoop FS so s3a:///hdfs:// paths work too) ----

    def exists(self) -> bool:
        return commit.exists(self.spark, self.path)

    def read(self) -> DataFrame:
        try:
            return read_parquet(self.spark, self.path)
        except AnalysisException:
            if not commit.recover(self.spark, self.path):
                raise
            return read_parquet(self.spark, self.path)

    def _writer(self, df: DataFrame, mode: str) -> DataFrameWriter:
        writer = df.write.mode(mode)
        return writer.partitionBy(*self.partition_by) if self.partition_by else writer

    # -- key handling -------------------------------------------------------

    def _norm_key(self, df: DataFrame, k: str) -> Column:
        col = df[k]
        return F.lower(col) if self.case_insensitive else col

    def _join_cond(self, src: DataFrame, tgt: DataFrame) -> Column:
        cond = F.lit(True)
        for k in self.keys:
            cond = cond & (self._norm_key(src, k) == self._norm_key(tgt, k))
        return cond

    def _dedup_source(self, src: DataFrame, order_by: list[str]) -> DataFrame:
        """First-wins dedup of source keys (A1 semantics) + null-key reject."""
        for k in self.keys:
            src = src.where(F.col(k).isNotNull())
        w = Window.partitionBy(
            *[self._norm_key(src, k) for k in self.keys]
        ).orderBy(*[F.col(c) for c in order_by])
        return (
            src.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .drop("__rn")
        )

    def dedup_first_wins(self, src: DataFrame, order_by: list[str]) -> DataFrame:
        """Public seam for the table's source-side dedup discipline:
        first-wins by ``order_by`` within each key (which must be a
        deterministic total order within a key) plus null-key rejection —
        exactly what every write path applies, for callers that need the
        same row set BEFORE writing (e.g. signing documents whose
        signatures will later be inserted)."""
        return self._dedup_source(src, order_by)

    # -- atomic commit ------------------------------------------------------

    def _atomic_overwrite(self, df: DataFrame) -> None:
        """Stage → swap (``commit.swap``). Parquet writes aren't
        in-place-updatable; reading and rewriting into the live path would
        corrupt the source of the read, so stage to a sibling dir and
        rename."""
        commit.swap(self.spark, self.path, self._writer(df, "overwrite").parquet)

    # -- write disciplines ---------------------------------------------------

    def create_if_not_exists(self, df: DataFrame) -> bool:
        """K1 — idempotent typed create: write only if the path is absent
        (ref: CREATE TABLE IF NOT EXISTS, dags/pull_new_sales_list.py:73-81).
        Returns True if created. Staged and swapped in, so a crashed
        create leaves no half-written table."""
        if self.exists():
            return False
        self._atomic_overwrite(df)
        return True

    def append(self, df: DataFrame) -> None:
        """K2 — bulk append, no conflict handling (initial load only;
        ref: execute_values batches, dags/initial_price_paid_data.py:136-142)."""
        self._writer(df, "append").parquet(self.path)

    def insert_if_absent(self, src: DataFrame, order_by: list[str]) -> None:
        """K3 — ``ON CONFLICT DO NOTHING``: append only keys absent from the
        target (left anti-join), never touching existing rows. Existing files
        are untouched — this is an append, not a rewrite, so repeated
        incremental loads stay O(batch), not O(table)."""
        if not self.exists():
            self._atomic_overwrite(self._dedup_source(src, order_by))
            return
        tgt = self.read()
        clean = self._dedup_source(src, order_by)
        new_rows = clean.join(tgt, self._join_cond(clean, tgt), "left_anti")
        self.append(new_rows.select(*[F.col(c) for c in tgt.columns]))

    def merge_upsert(
        self,
        src: DataFrame,
        order_by: list[str],
        update_cols: list[str] | None = None,
    ) -> None:
        """K4/K5 — ``ON CONFLICT DO UPDATE``: full-outer join + per-column
        coalesce. ``update_cols=None`` updates every non-key column; the
        reference's K4 updates only ``updated_date``
        (dags/pull_new_sales_list.py:252-261).

        Unpartitioned targets: atomic directory swap (full rewrite — the
        plain-parquet tax). Partitioned targets where the source carries the
        partition columns: only partitions PRESENT IN THE BATCH are merged
        and dynamically overwritten — O(touched partitions), not O(table);
        at 100 TB this is the difference between a merge and a migration.
        Requires partition values immutable under update (standard
        lakehouse contract; key⊅partition changes are an anti-pattern).
        """
        clean = self._dedup_source(src, order_by)
        if not self.exists():
            self._atomic_overwrite(clean)
            return
        if self.partition_by and all(p in clean.columns for p in self.partition_by):
            self._merge_touched_partitions(clean, update_cols)
            return
        self._atomic_overwrite(self._merged_frame(self.read(), clean, update_cols))

    def _merged_frame(
        self, tgt: DataFrame, clean: DataFrame, update_cols: list[str] | None
    ) -> DataFrame:
        """The MERGE result set: full-outer join + per-column coalesce."""
        non_key = [c for c in tgt.columns if c not in self.keys]
        updatable = set(update_cols) if update_cols is not None else set(non_key)
        src_a = clean.alias("s")
        tgt_a = tgt.alias("t")
        cond = F.lit(True)
        for k in self.keys:
            cond = cond & (self._norm_key(src_a, k) == self._norm_key(tgt_a, k))
        joined = tgt_a.join(src_a, cond, "full_outer")
        out_cols: list[Column] = []
        for k in self.keys:
            # matched/unmatched-target rows keep the target's key casing;
            # insert rows take the source's.
            out_cols.append(F.coalesce(tgt_a[k], src_a[k]).alias(k))
        for c in non_key:
            if c not in clean.columns:
                # partial-source merge (e.g. watermark-only updates): columns
                # the source doesn't carry keep target values; null on insert.
                out_cols.append(tgt_a[c].alias(c))
            elif c in updatable:
                out_cols.append(F.coalesce(src_a[c], tgt_a[c]).alias(c))
            else:
                out_cols.append(F.coalesce(tgt_a[c], src_a[c]).alias(c))
        return joined.select(*out_cols)

    def _merge_touched_partitions(
        self, clean: DataFrame, update_cols: list[str] | None
    ) -> None:
        """Partition-pruned merge: read ONLY partitions the batch touches
        (semi-join on partition values → partition pruning at the scan),
        merge, stage the result, then dynamically overwrite just those
        partitions. Untouched partition directories are never read or
        rewritten."""
        # the touched-partition set is bounded by construction (the batch's
        # distinct partition values); collect it and filter the target with
        # LITERALS — static partition pruning at planning time (PartitionFilters
        # on the scan), no reliance on runtime dynamic pruning of a semi-join
        touched_rows = clean.select(*self.partition_by).distinct().collect()
        tgt = self.read().where(self._partition_pred(touched_rows))
        self._overwrite_partitions(self._merged_frame(tgt, clean, update_cols))

    def vacuum_orphans(self) -> list[str]:
        """Settle what crashed writes left beside the table: first the
        ``commit.recover`` rule for ``.old-*`` backups (deleted beside a
        live table, renamed back when the table is missing — then it is
        the only copy), then every stage dir a swap writes (``.stage-*``,
        ``.compact-*``, ``.zorder-*``), which no reader ever sees. Returns
        the names removed or restored."""
        settled = commit.recover(self.spark, self.path)
        stages = commit.siblings(self.spark, self.path, commit.STAGE_TAGS)
        for st in stages:
            commit.remove(self.spark, st)
        return settled + [st.rsplit("/", 1)[-1] for st in stages]

    def delete_where(self, predicate: Column) -> None:
        """Keyed DELETE by predicate — the missing verb of the reference's
        CRUD surface (Postgres ``DELETE FROM ... WHERE``; also the GDPR/
        right-to-erasure path a lake table needs).

        NULL predicate rows are KEPT (SQL DELETE semantics: only rows where
        the predicate is TRUE are removed).

        Unpartitioned: atomic swap of the retained set (the plain-parquet
        full-rewrite tax, same as merge). Partitioned: only partitions that
        CONTAIN matching rows are rewritten — O(touched), not O(table);
        partitions left empty by the delete have their directories removed
        (dynamic overwrite alone cannot express an empty partition)."""
        keep = ~F.coalesce(predicate, F.lit(False))
        if not self.exists():
            return
        if not self.partition_by:
            self._atomic_overwrite(self.read().where(keep))
            return
        touched = (
            self.read().where(predicate).select(*self.partition_by).distinct().collect()
        )
        if not touched:
            return
        remaining = self.read().where(self._partition_pred(touched)).where(keep)
        self._overwrite_partitions(remaining, touched)

    def delete_keys(self, keys_df: DataFrame) -> None:
        """Keyed DELETE by key set (anti-join form): remove every row whose
        key appears in ``keys_df``. With a partitioned target the touched
        partitions come from target⋈keys (broadcast the key batch), so the
        rewrite is O(partitions containing those keys)."""
        if not self.exists():
            return
        keys = keys_df.select(*self.keys).distinct()
        for k in self.keys:
            keys = keys.where(F.col(k).isNotNull())
        if not self.partition_by:
            tgt = self.read()
            self._atomic_overwrite(tgt.join(keys, self._join_cond(tgt, keys), "left_anti"))
            return
        tgt = self.read()
        matches = tgt.join(F.broadcast(keys), self._join_cond(tgt, keys), "left_semi")
        touched = matches.select(*self.partition_by).distinct().collect()
        if not touched:
            return
        scoped = self.read().where(self._partition_pred(touched))
        remaining = scoped.join(keys, self._join_cond(scoped, keys), "left_anti")
        self._overwrite_partitions(remaining, touched)

    # -- deletion vectors (logical delete) ----------------------------------

    def _dv_path(self) -> str:
        return f"{self.path}.dv"

    def logical_delete(self, keys_df: DataFrame) -> int:
        """O(batch) DELETE: record the keys in a deletion-vector sidecar
        (``<path>.dv``) instead of rewriting any data file — the
        Delta/Iceberg merge-on-read pattern. ``read_current()`` subtracts
        the vector; ``compact_dv()`` later applies it physically in one
        touched-partition rewrite and clears the sidecar.

        Why it matters at 100 TB: ``delete_keys`` costs a rewrite of every
        touched partition PER BATCH — for a steady drip of small deletes
        (GDPR erasure queues) that is the dominant write amplification.
        The vector makes each delete O(|keys|) append-only; the rewrite
        cost is paid ONCE at compaction for all accumulated deletes.

        Contract: deletes are by KEY, table-scoped (not file-scoped like
        Delta's DVs — plain parquet has no stable file identity across
        rewrites). Re-inserting a deleted key requires ``restore_keys``
        (or ``compact_dv`` first); a plain ``append`` of a vectored key
        stays hidden from ``read_current`` by design. Returns the number
        of distinct keys recorded."""
        keys = keys_df.select(
            *[
                self._norm_key(keys_df, k).alias(k) if self.case_insensitive
                else F.col(k)
                for k in self.keys
            ]
        ).distinct()
        for k in self.keys:
            keys = keys.where(F.col(k).isNotNull())
        n = keys.count()
        if n:
            keys.write.mode("append").parquet(self._dv_path())
        return n

    def _dv(self) -> DataFrame | None:
        from airflow_dags_spark.sources.tables import table_exists

        if not table_exists(self.spark, self._dv_path()):
            return None
        return read_parquet(self.spark, self._dv_path()).distinct()

    def read_current(self) -> DataFrame:
        """``read()`` minus logically-deleted keys. The vector is small by
        contract (deletes-since-last-compaction) → broadcast anti-join:
        the scan itself is untouched, pushdown/pruning intact."""
        tgt = self.read()
        dv = self._dv()
        if dv is None:
            return tgt
        return tgt.join(F.broadcast(dv), self._join_cond(tgt, dv), "left_anti")

    def restore_keys(self, keys_df: DataFrame) -> None:
        """Remove keys from the deletion vector (un-delete / pre-reinsert)."""
        dv = self._dv()
        if dv is None:
            return
        keys = keys_df.select(
            *[
                self._norm_key(keys_df, k).alias(k) if self.case_insensitive
                else F.col(k)
                for k in self.keys
            ]
        ).distinct()
        remaining = dv.join(keys, self._join_cond(dv, keys), "left_anti")
        ParquetTable(self.spark, self._dv_path(), self.keys)._atomic_overwrite(
            remaining
        )

    def compact_dv(self) -> int:
        """Apply the deletion vector physically (one touched-partition
        rewrite for ALL accumulated deletes) and clear the sidecar.
        Afterwards ``read() == read_current()``. Returns keys applied."""
        dv = self._dv()
        if dv is None:
            return 0
        dv = dv.localCheckpoint(eager=True)  # survive the sidecar removal
        n = dv.count()
        if n:
            self.delete_keys(dv)
        commit.remove(self.spark, self._dv_path())
        return n

    def _overwrite_partitions(self, df: DataFrame, touched=()) -> None:
        """Stage → dynamic overwrite of the partitions ``df`` holds → drop
        the stage. Staging first: ``df`` reads the very partitions the
        overwrite replaces, and Spark (correctly) refuses read-write
        cycles. Partitions in ``touched`` that ``df`` left EMPTY get their
        directories removed (dynamic overwrite alone cannot express an
        empty partition)."""
        stage = f"{self.path}.stage-{uuid.uuid4().hex[:8]}"
        try:
            df.write.mode("overwrite").parquet(stage)
            staged = read_parquet(self.spark, stage)
            self._writer(staged, "overwrite").option(
                "partitionOverwriteMode", "dynamic"
            ).parquet(self.path)
            if touched:
                still = {
                    tuple(r)
                    for r in staged.select(*self.partition_by).distinct().collect()
                }
                for r in touched:
                    vals = tuple(r[p] for p in self.partition_by)
                    if vals not in still:
                        sub = "/".join(
                            f"{p}={v}" for p, v in zip(self.partition_by, vals)
                        )
                        commit.remove(self.spark, f"{self.path}/{sub}")
        finally:
            commit.remove(self.spark, stage)

    def _partition_pred(self, touched_rows) -> Column:
        """Literal partition predicate → static pruning at planning time."""
        if len(self.partition_by) == 1:
            p = self.partition_by[0]
            return F.col(p).isin([r[0] for r in touched_rows])
        pred = F.lit(False)
        for r in touched_rows:
            conj = F.lit(True)
            for p in self.partition_by:
                conj = conj & (F.col(p) == F.lit(r[p]))
            pred = pred | conj
        return pred

    def advance_watermark(
        self, processed_keys: DataFrame, watermark_col: str, value
    ) -> None:
        """K6/T1 — set ``watermark_col = value`` for the given keys (also for
        keys that yielded zero rows, so they are not retried —
        dags/pull_new_sales_list.py:236-239)."""
        updates = processed_keys.select(*self.keys).distinct().withColumn(
            watermark_col, F.lit(value)
        )
        self.merge_upsert(updates, order_by=self.keys, update_cols=[watermark_col])


# module-level conveniences ---------------------------------------------------


def insert_if_absent(
    spark: SparkSession,
    path: str,
    src: DataFrame,
    key: str | list[str],
    order_by: list[str],
) -> None:
    ParquetTable(spark, path, key).insert_if_absent(src, order_by)


def merge_upsert(
    spark: SparkSession,
    path: str,
    src: DataFrame,
    key: str | list[str],
    order_by: list[str],
    update_cols: list[str] | None = None,
    case_insensitive: bool = False,
) -> None:
    ParquetTable(spark, path, key, case_insensitive=case_insensitive).merge_upsert(
        src, order_by, update_cols
    )


def advance_watermark(
    spark: SparkSession,
    path: str,
    processed_keys: DataFrame,
    key: str | list[str],
    watermark_col: str,
    value,
) -> None:
    ParquetTable(spark, path, key).advance_watermark(
        processed_keys, watermark_col, value
    )
