"""Versioned, batch-ledgered persistent state — the one on-disk protocol
behind the IVF, PQ and token-stream stores.

Layout under a store path:

- ``state/v{n}-{uuid8}``: the full state after the n-th applied batch,
  staged under a name unique to the attempt (tiny: one file);
- ``_log/``: the batch ledger, a :class:`~operators.commit.CommitLog`
  with one entry per version ``n`` holding ``batch_id``, ``version``, the
  state dir and any extra fields of the store.

The current version is the log's highest entry. A batch commits by
writing its state dir FIRST and putting its ledger entry LAST, so:

- a replayed ``batch_id`` is found in the ledger and is a no-op;
- a crash before the entry lands leaves an orphan state dir that no entry
  names, so no reader sees it; the replay stages a fresh dir and commits.

No partial state is ever observable, and ledger reads and commits run no
Spark job. This is the keyed insert-if-absent plus per-key watermark
discipline of the reference DAGs (``ON CONFLICT DO NOTHING``,
``last_updated_sale``), applied to a driver-sized state instead of a
table.

**Excluded concurrent writers**: one writer per store path is the
contract; the caller serializes them (one streaming query per sink
checkpoint, an Airflow DAG with ``max_active_runs=1``). A second writer is
detected at its commit: two writers that read the same head both stage
their own state dir and both put entry ``n + 1``; the second put raises
``FileExistsError``, the first writer's version stays as committed, and
the loser deletes its staged dirs. That is exact on HDFS; on the local
filesystem it catches a sequential conflict but not a true race (see
``CommitLog``). Two replays of one ``batch_id`` likewise cannot both
commit. Readers are safe beside the writer: a version's state is written
before its entry, and a committed version never changes.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, Row, SparkSession

from airflow_dags_spark.functions.localframe import tiny_df
from airflow_dags_spark.operators.commit import CommitLog, remove


class VersionedStore:
    """Base of the versioned stores. Subclasses set ``_label`` (for
    errors) and ``_state_schema`` (DDL of the state rows).

    The ledger entries (``_rows``) are read ONCE per public method and
    threaded through the private checks, so one snapshot serves the
    exists/applied/version checks. State versions are write-once, so the
    rows this instance last wrote or collected are cached by state dir;
    the cache is per instance, never shared across processes or runs."""

    _label: str
    _state_schema: str

    def __init__(self, spark: SparkSession, path: str, *, key_col: str) -> None:
        self.spark = spark
        self.path = path.rstrip("/")
        self.key_col = key_col
        self._log = CommitLog(
            spark, f"{self.path}/_log", supersedes=f"{self.path}/ledger"
        )
        self._state_cache: tuple[str, list] | None = None

    def exists(self) -> bool:
        return self._log.head() is not None

    def _ledger_rows(self) -> list | None:
        """The ledger entries in version order; None before the first
        commit."""
        return self._log.entries() or None

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

    def _state_dir(self, version: int, _rows: list | None = None) -> str:
        rows = self._ledger_rows() if _rows is None else _rows
        for r in rows or []:
            if r["version"] == version:
                return r["state"]
        raise self._not_initialized()

    def _state_at(self, version: int, _rows: list | None = None) -> DataFrame:
        # the known schema spares the per-read schema-inference job
        return self.spark.read.schema(self._state_schema).parquet(
            self._state_dir(version, _rows)
        )

    def state(self) -> DataFrame:
        """The current version's state rows."""
        rows = self._ledger_rows()
        v = self.current_version(rows)
        if v < 0:
            raise self._not_initialized()
        return self._state_at(v, rows)

    def _state_rows(self, version: int, _rows: list | None = None) -> list:
        """Collected state rows of ``version``, from the cache when this
        instance just wrote or read them."""
        path = self._state_dir(version, _rows)
        if self._state_cache is not None and self._state_cache[0] == path:
            return self._state_cache[1]
        rows = self.spark.read.schema(self._state_schema).parquet(path).collect()
        self._state_cache = (path, rows)
        return rows

    def _commit(
        self, batch_id: str, version: int, state: list[tuple], *staged: str, **extra
    ) -> list:
        """Stage ``state`` in a fresh ``state/v{version}-{uuid8}`` dir and
        put ledger entry ``version`` — the commit point — and return the
        state as rows. ``staged`` names other dirs this attempt wrote and
        ``extra`` the store's own entry fields. When the entry does not
        land, the attempt's dirs are deleted and the error is raised."""
        path = f"{self.path}/state/v{version}-{uuid.uuid4().hex[:8]}"
        try:
            # tiny_df: Arrow local relation — a pickled-list createDataFrame
            # costs seconds of Python-worker round-trips per state version
            df = tiny_df(self.spark, state, self._state_schema)
            df.coalesce(1).write.mode("errorifexists").parquet(path)
            self._log.commit(
                version,
                {"batch_id": batch_id, "version": version, "state": path, **extra},
            )
        except BaseException:
            for d in (path, *staged):
                remove(self.spark, d)
            raise
        as_row = Row(*df.columns)
        self._state_cache = (path, [as_row(*r) for r in state])
        return self._state_cache[1]
