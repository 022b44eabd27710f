"""Engine-owned MERGE/upsert library over plain Parquet (SURVEY.md §4.3#1):
one result-set algebra and one rewrite behind every keyed write.

Spark core has no ``MERGE INTO`` for parquet; rather than take a Delta
dependency, the engine implements the reference's write disciplines as
join-based rewrites with an atomic directory-swap commit:

- ``insert_if_absent``  — K3, ``ON CONFLICT DO NOTHING``
  (dags/monthly_price_paid_data.py:147-155)
- ``merge_upsert``      — K4/K5, ``ON CONFLICT DO UPDATE`` incl.
  case-insensitive keys (dags/pull_new_sales_list.py:252-261,
  dags/rightmove_outcodes.py:58-69)
- ``advance_watermark`` — K6/T1, per-key processed-through commit
  (dags/pull_new_sales_list.py:236-239,267-271)
- ``delete_where`` / ``delete_keys`` — K7, keyed DELETE

**One algebra.** Three pure functions map a target frame and a source
frame to a result, keyed by the table's keys and its case rule:
``rows_to_insert`` (K3 anti-join), ``merged_table`` (K4/K5 full outer join
plus per-column coalesce) and ``without_keys`` (K7 anti-join). The write
verbs dedup the source first (``dedup_first_wins``), then call them; the
registered K3/K4/K5/K7 queries (plans/writeback.py) call the same
functions on their own frames, so the DuckDB oracle checks the code the
jobs run.

**One rewrite.** ``merge_upsert``, ``delete_where`` and ``delete_keys``
(and ``advance_watermark`` and ``compact_dv`` through them) are each one
``_rewrite(f, touched)``: the table is opened once and replaced by
``f(scope)``. The scope is the whole table, swapped in by ``commit.swap``;
on a partitioned table given a touched set it is only the partitions that
set names, dynamically overwritten. ``insert_if_absent`` appends and
never rewrites; ``overwrite`` is the first write.

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
from functools import reduce
from operator import and_, or_
from typing import Callable

from pyspark.errors import AnalysisException
from pyspark.sql import Column, DataFrame, DataFrameWriter, Observation, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import NullType

from airflow_dags_spark.operators import commit
from airflow_dags_spark.sources.tables import read_parquet, table_exists

_FrameFn = Callable[[DataFrame], DataFrame]


def _partition_values(rows) -> set[tuple]:
    """Partition-value tuples as the table reads them back: Spark writes a
    null or ``""`` value as ``__HIVE_DEFAULT_PARTITION__`` and reads both
    back as null."""
    return {tuple(None if v == "" else v for v in r) for r in rows}

# -- the MERGE algebra ----------------------------------------------------------


def _norm(df: DataFrame, k: str, ci: bool) -> Column:
    return F.lower(df[k]) if ci else df[k]


def _on(left: DataFrame, right: DataFrame, keys: list[str], ci: bool) -> Column:
    """Key equality of ``left`` and ``right`` under the case rule."""
    return reduce(and_, [_norm(left, k, ci) == _norm(right, k, ci) for k in keys])


def without_keys(
    tgt: DataFrame, key_set: DataFrame, keys: list[str], *, case_insensitive: bool = False
) -> DataFrame:
    """K7 — the ``tgt`` rows whose key is not in ``key_set`` (left anti-join)."""
    return tgt.join(key_set, _on(tgt, key_set, keys, case_insensitive), "left_anti")


def rows_to_insert(
    tgt: DataFrame, src: DataFrame, keys: list[str], *, case_insensitive: bool = False
) -> DataFrame:
    """K3 — the ``src`` rows whose key ``tgt`` lacks, in ``tgt``'s column
    order: what ``ON CONFLICT DO NOTHING`` inserts."""
    return without_keys(src, tgt, keys, case_insensitive=case_insensitive).select(*tgt.columns)


def merged_table(
    tgt: DataFrame,
    src: DataFrame,
    keys: list[str],
    update_cols: list[str] | None = None,
    *,
    case_insensitive: bool = False,
) -> DataFrame:
    """K4/K5 — the MERGE result set: full outer join + per-column coalesce,
    keys first. ``update_cols=None`` updates every non-key column the source
    carries; the others keep the target's value. Matched and target-only
    rows keep the target's key casing; inserted rows take the source's.
    Columns the source lacks (a partial-source merge, e.g. watermark-only
    updates) keep the target's values and are null on insert."""
    non_key = [c for c in tgt.columns if c not in keys]
    updatable = set(non_key if update_cols is None else update_cols) - set(keys)
    t, s = tgt.alias("t"), src.alias("s")

    def pick(c: str) -> Column:
        if c not in src.columns:
            return t[c]
        new, old = (s, t) if c in updatable else (t, s)
        return F.coalesce(new[c], old[c])

    joined = t.join(s, _on(s, t, keys, case_insensitive), "full_outer")
    return joined.select(*[pick(c).alias(c) for c in keys + non_key])


# -- the table ------------------------------------------------------------------


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
        """The table; a partition column whose only value is null (Spark
        infers it as ``void``, which no writer accepts as a partition
        column) reads back as string, so the verbs can rewrite it."""
        try:
            df = read_parquet(self.spark, self.path)
        except AnalysisException:
            if not commit.recover(self.spark, self.path):
                raise
            df = read_parquet(self.spark, self.path)
        void = [p for p in self.partition_by if isinstance(df.schema[p].dataType, NullType)]
        return df.withColumns({p: F.col(p).cast("string") for p in void}) if void else df

    def _writer(self, df: DataFrame, mode: str) -> DataFrameWriter:
        writer = df.write.mode(mode)
        return writer.partitionBy(*self.partition_by) if self.partition_by else writer

    def _swap(self, df: DataFrame) -> None:
        """Stage → swap (``commit.swap``). Parquet writes aren't
        in-place-updatable; reading and rewriting into the live path would
        corrupt the source of the read, so stage to a sibling dir and
        rename."""
        commit.swap(self.spark, self.path, self._writer(df, "overwrite").parquet)

    # -- key handling -------------------------------------------------------

    def dedup_first_wins(self, src: DataFrame, order_by: list[str]) -> DataFrame:
        """The source discipline every write applies (A1 semantics):
        null-key rows rejected, then first-wins by ``order_by`` within each
        key (which must be a deterministic total order within a key).
        Public for callers that need the same row set BEFORE writing (e.g.
        signing documents whose signatures will later be inserted)."""
        src = src.dropna(subset=self.keys)
        w = Window.partitionBy(
            *[_norm(src, k, self.case_insensitive) for k in self.keys]
        ).orderBy(*order_by)
        return (
            src.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .drop("__rn")
        )

    def _key_set(self, keys_df: DataFrame) -> DataFrame:
        """The distinct non-null keys of ``keys_df``, lower-cased under the
        case rule: what ``delete_keys`` removes and the deletion vector
        stores."""
        return (
            keys_df.select(
                *[_norm(keys_df, k, self.case_insensitive).alias(k) for k in self.keys]
            )
            .dropna()
            .distinct()
        )

    # -- write disciplines ---------------------------------------------------

    def create_if_not_exists(self, df: DataFrame) -> bool:
        """K1 — idempotent typed create: write only if the path is absent
        (ref: CREATE TABLE IF NOT EXISTS, dags/pull_new_sales_list.py:73-81).
        Returns True if created. Staged and swapped in, so a crashed
        create leaves no half-written table."""
        if self.exists():
            return False
        self._swap(df)
        return True

    def overwrite(self, src: DataFrame, order_by: list[str]) -> None:
        """Replace the whole table by ``src`` after the first-wins dedup,
        staged and swapped in: the bulk load and the first write of every
        keyed verb."""
        self._swap(self.dedup_first_wins(src, order_by))

    def append(self, df: DataFrame) -> None:
        """K2 — bulk append, no conflict handling (initial load only;
        ref: execute_values batches, dags/initial_price_paid_data.py:136-142)."""
        self._writer(df, "append").parquet(self.path)

    def insert_if_absent(self, src: DataFrame, order_by: list[str]) -> None:
        """K3 — ``ON CONFLICT DO NOTHING``: append only keys absent from the
        target (``rows_to_insert``), never touching existing rows. Existing
        files are untouched — this is an append, not a rewrite, so repeated
        incremental loads stay O(batch), not O(table)."""
        if not self.exists():
            self.overwrite(src, order_by)
            return
        clean = self.dedup_first_wins(src, order_by)
        self.append(
            rows_to_insert(self.read(), clean, self.keys, case_insensitive=self.case_insensitive)
        )

    def merge_upsert(
        self,
        src: DataFrame,
        order_by: list[str],
        update_cols: list[str] | None = None,
    ) -> None:
        """K4/K5 — ``ON CONFLICT DO UPDATE`` (``merged_table``).
        ``update_cols=None`` updates every non-key column; the reference's
        K4 updates only ``updated_date`` (dags/pull_new_sales_list.py:252-261).

        Unpartitioned targets: atomic directory swap (full rewrite — the
        plain-parquet tax). Partitioned targets where the source carries the
        partition columns: only partitions PRESENT IN THE BATCH are merged
        and dynamically overwritten — O(touched partitions), not O(table);
        at 100 TB this is the difference between a merge and a migration.
        Requires partition values immutable under update (standard
        lakehouse contract; key⊅partition changes are an anti-pattern).
        """
        if not self.exists():
            self.overwrite(src, order_by)
            return
        clean = self.dedup_first_wins(src, order_by)
        self._rewrite(
            lambda scope: merged_table(
                scope, clean, self.keys, update_cols, case_insensitive=self.case_insensitive
            ),
            (lambda _: clean) if set(self.partition_by) <= set(clean.columns) else None,
        )

    def delete_where(self, predicate: Column) -> None:
        """Keyed DELETE by predicate — the missing verb of the reference's
        CRUD surface (Postgres ``DELETE FROM ... WHERE``; also the GDPR/
        right-to-erasure path a lake table needs).

        NULL predicate rows are KEPT (SQL DELETE semantics: only rows where
        the predicate is TRUE are removed). Partitioned: only partitions
        that CONTAIN matching rows are rewritten — O(touched), not
        O(table)."""
        if self.exists():
            keep = ~F.coalesce(predicate, F.lit(False))
            self._rewrite(lambda scope: scope.where(keep), lambda tgt: tgt.where(predicate))

    def delete_keys(self, keys_df: DataFrame) -> None:
        """Keyed DELETE by key set (``without_keys``): remove every row whose
        key appears in ``keys_df``. With a partitioned target the touched
        partitions come from target⋉keys (broadcast the key batch), so the
        rewrite is O(partitions containing those keys)."""
        if self.exists():
            keys = self._key_set(keys_df)
            ci = self.case_insensitive
            self._rewrite(
                lambda scope: without_keys(scope, keys, self.keys, case_insensitive=ci),
                lambda tgt: tgt.join(F.broadcast(keys), _on(tgt, keys, self.keys, ci), "left_semi"),
            )

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

    # -- the one rewrite ----------------------------------------------------

    def _rewrite(self, f: _FrameFn, touched: _FrameFn | None = None) -> None:
        """Replace the table by ``f(scope)``, opening it once.

        - ``touched`` None, or an unpartitioned table: the scope is the
          whole table, staged and swapped in (``commit.swap``).
        - otherwise ``touched(table)`` is a frame whose partition-column
          values name the touched partitions. They are collected (a bounded
          set), and the scope is only those partitions, read with a LITERAL
          predicate — static pruning at planning time, no reliance on
          runtime pruning of a semi-join. ``f(scope)`` is staged first (it
          reads the very partitions the overwrite replaces, and Spark
          refuses read-write cycles), then dynamically overwrites the
          partitions it holds; touched partitions it left EMPTY get their
          directories removed (dynamic overwrite alone cannot express an
          empty partition), and so do the parent directories that leaves
          bare; when no partition is left at all, one of them keeps a
          schema-only file, so the empty table stays readable. Which partitions ``f(scope)`` holds rides on the stage
          write as an observed metric, so no job re-reads the stage.
          Untouched partition directories are never read or rewritten."""
        tgt = self.read()
        if touched is None or not self.partition_by:
            self._swap(f(tgt))
            return
        # both sets of partition values in the table's own types: a merged
        # string "202401" must name the int partition 202401 it rewrote
        typed = [F.col(p).cast(tgt.schema[p].dataType).alias(p) for p in self.partition_by]
        names = _partition_values(touched(tgt).select(*typed).distinct().collect())
        if not names:
            return
        held = Observation()
        stage = f"{self.path}.stage-{uuid.uuid4().hex[:8]}"
        try:
            f(tgt.where(self._partition_pred(names))).observe(
                held, F.collect_set(F.struct(*typed)).alias("parts")
            ).write.mode("overwrite").parquet(stage)
            staged = read_parquet(self.spark, stage)
            self._writer(staged, "overwrite").option(
                "partitionOverwriteMode", "dynamic"
            ).parquet(self.path)
            emptied_vals = names - _partition_values(held.get["parts"])
            if not emptied_vals:
                return
            jvm, fs = commit.hadoop_fs(self.spark, self.path)
            # Spark's own dir names: escaped values, null as the default name
            catalog = jvm.org.apache.spark.sql.catalyst.catalog
            path_string = catalog.ExternalCatalogUtils.getPartitionPathString
            emptied = [
                "/".join([self.path, *(
                    path_string(p, None if v is None else str(v))
                    for p, v in zip(self.partition_by, vals)
                )])
                for vals in emptied_vals
            ]

            def bare(d: str) -> bool:  # no visible entry (none at all if d is gone)
                return not fs.globStatus(jvm.org.apache.hadoop.fs.Path(f"{d}/[!_.]*"))

            for d in emptied:
                commit.remove(self.spark, d)
                # and the parents it left bare (a=1/ once a=1/b=2/ is gone)
                for _ in self.partition_by[1:]:
                    d = d.rsplit("/", 1)[0]
                    if not bare(d):
                        break
                    commit.remove(self.spark, d)
            if bare(self.path):
                staged.drop(*self.partition_by).write.parquet(emptied[0])
        finally:
            commit.remove(self.spark, stage)

    def _partition_pred(self, names) -> Column:
        """Literal partition predicate → static pruning at planning time.
        A None value (the null partition) matches with ``isNull``: a
        literal ``isin``/``==`` never matches null."""

        def eq(p: str, v) -> Column:
            return F.col(p).isNull() if v is None else F.col(p) == v

        if len(self.partition_by) == 1:
            col = F.col(self.partition_by[0])
            pred = col.isin([v for (v,) in names if v is not None])
            return pred | col.isNull() if (None,) in names else pred
        return reduce(
            or_,
            [reduce(and_, [eq(p, v) for p, v in zip(self.partition_by, vals)]) for vals in names],
        )

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
        keys = self._key_set(keys_df)
        n = keys.count()
        if n:
            keys.write.mode("append").parquet(self._dv_path())
        return n

    def _dv(self) -> DataFrame | None:
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
        return without_keys(
            tgt, F.broadcast(dv), self.keys, case_insensitive=self.case_insensitive
        )

    def restore_keys(self, keys_df: DataFrame) -> None:
        """Remove keys from the deletion vector (un-delete / pre-reinsert)."""
        dv = self._dv()
        if dv is None:
            return
        remaining = without_keys(
            dv, self._key_set(keys_df), self.keys, case_insensitive=self.case_insensitive
        )
        commit.swap(self.spark, self._dv_path(), remaining.write.mode("overwrite").parquet)

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
