"""Versioned, batch-ledgered persistent state — the one on-disk protocol
behind the IVF, PQ and token-stream stores.

Layout under a store path:

- ``state/v{n}``: the full state after the n-th applied batch, written
  once (tiny: one file);
- ``ledger/``: one ``(batch_id, version, ...)`` row per applied batch.

The current version is the ledger's max version. A batch commits by
writing its state version FIRST and appending its ledger row LAST, so:

- a replayed ``batch_id`` is found in the ledger and is a no-op;
- a crash between the state write and the ledger append leaves an orphan
  ``v{n}`` that no reader sees (the ledger still says ``n - 1``), and the
  replay deterministically overwrites it with identical bytes before its
  ledger row lands.

No partial state is ever observable. This is the keyed insert-if-absent
plus per-key watermark discipline of the reference DAGs
(``ON CONFLICT DO NOTHING``, ``last_updated_sale``), applied to a
driver-sized state instead of a table.

**Excluded concurrent writers**: at most ONE writer per store path at a
time; the caller serializes them (one streaming query per sink
checkpoint, an Airflow DAG with ``max_active_runs=1``). Nothing detects a
second writer: two writers read the same ledger version, both write
``state/v{n+1}`` (the later overwrite wins, so one batch is lost while
both batch ids land in the ledger), and two replays of one ``batch_id``
can both pass the applied check and append duplicate ledger rows.
Readers are safe beside the one writer: a version's state is written
before its ledger row, and a written version never changes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Row, SparkSession

from airflow_dags_spark.functions.localframe import tiny_df
from airflow_dags_spark.operators.upsert import ParquetTable


class VersionedStore:
    """Base of the versioned stores. Subclasses set ``_label`` (for
    errors), ``_state_schema`` (DDL of the state rows) and, when their
    ledger rows carry more than ``(batch_id, version)``,
    ``_ledger_schema``.

    The ledger is mutable, so it is collected ONCE per public method and
    the rows (``_rows``) are threaded through the private checks — one
    job serves the exists/applied/version checks. State versions are
    write-once, so the rows this instance last wrote or collected are
    cached by version; the cache is per instance, never shared across
    processes or runs."""

    _label: str
    _state_schema: str
    _ledger_schema = "batch_id string, version int"

    def __init__(self, spark: SparkSession, path: str, *, key_col: str) -> None:
        self.spark = spark
        self.path = path.rstrip("/")
        self.key_col = key_col
        self._ledger = ParquetTable(spark, f"{self.path}/ledger", "batch_id")
        self._state_cache: tuple[int, list] | None = None

    def exists(self) -> bool:
        return self._ledger.exists()

    def _ledger_rows(self) -> list | None:
        """The full (tiny) ledger as collected rows; None before the first
        commit."""
        if not self._ledger.exists():
            return None
        return self._ledger.read().collect()

    def current_version(self, _rows: list | None = None) -> int:
        rows = self._ledger_rows() if _rows is None else _rows
        if not rows:
            return -1
        return max(int(r["version"]) for r in rows)

    def _applied(self, batch_id: str, _rows: list | None = None) -> bool:
        rows = self._ledger_rows() if _rows is None else _rows
        return bool(rows) and any(r["batch_id"] == batch_id for r in rows)

    def _not_initialized(self) -> ValueError:
        return ValueError(f"{self._label} at {self.path} not initialized")

    def _state_at(self, version: int) -> DataFrame:
        # the known schema spares the per-read schema-inference job
        return self.spark.read.schema(self._state_schema).parquet(
            f"{self.path}/state/v{version}"
        )

    def state(self) -> DataFrame:
        """The current version's state rows."""
        v = self.current_version()
        if v < 0:
            raise self._not_initialized()
        return self._state_at(v)

    def _state_rows(self, version: int) -> list:
        """Collected state rows of ``version``, from the cache when this
        instance just wrote or read them."""
        if self._state_cache is not None and self._state_cache[0] == version:
            return self._state_cache[1]
        rows = self._state_at(version).collect()
        self._state_cache = (version, rows)
        return rows

    def _write_state(self, rows: list[tuple], version: int) -> None:
        # tiny_df: Arrow local relation — a pickled-list createDataFrame
        # costs seconds of Python-worker round-trips per state version
        df = tiny_df(self.spark, rows, self._state_schema)
        df.coalesce(1).write.mode("overwrite").parquet(
            f"{self.path}/state/v{version}"
        )
        as_row = Row(*df.columns)
        self._state_cache = (version, [as_row(*r) for r in rows])

    def _commit(
        self, batch_id: str, version: int, _rows: list | None, *extra
    ) -> None:
        """Append the ledger row — the commit point. ``_rows`` is the
        ledger snapshot on which the caller ALREADY found ``batch_id``
        absent, so this is a plain one-row append (an insert_if_absent
        anti-join would re-check the same fact); ``None`` means no ledger
        yet, and the first row is written by atomic swap."""
        row = tiny_df(
            self.spark, [(batch_id, version, *extra)], self._ledger_schema
        )
        if _rows is None:
            self._ledger._atomic_overwrite(row)
        else:
            self._ledger.append(row)
