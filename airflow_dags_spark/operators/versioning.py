"""Snapshot-versioned parquet tables: time travel, O(1) rollback, vacuum.

``ParquetTable`` (operators/upsert.py) gives keyed writes with an atomic
swap but destroys history — one bad merge and the prior state is gone. This
module adds the minimal manifest-pointer design the real table formats use
(Delta's _delta_log, Iceberg's metadata pointer), lakehouse-native and
Spark-first:

Layout::

    <path>/_log/00000000000000000000.json   {"current": N, "versions": [...]}
    <path>/_log/00000000000000000001.json   the next manifest
    <path>/v=000001-<uuid8>/                immutable snapshot data (parquet)
    <path>/v=000002-<uuid8>/
    ...

The manifest is the highest entry of a ``commit.CommitLog``; every write,
``rollback`` and ``vacuum`` puts the next entry.

- ``write(df, op)``      — stage the new snapshot under a dir unique to
  the attempt, then commit by putting the next manifest entry. Readers
  resolve the manifest first, so they see the old version until the entry
  lands — snapshot isolation with a single-file commit point, no locks.
- ``read(version=None)`` — current or any retained historical version
  (time travel). A plain parquet scan: pushdown/pruning intact.
- ``rollback(to)``       — O(1): a new entry pointing back. No data
  copied, no rewrite — the disaster-recovery path after a bad merge.
- ``vacuum(keep_last)``  — a new entry without the dropped versions, then
  deletes the snapshot dirs no retained version reads (always keeps the
  current pointer), bounding storage.

Concurrency contract: one writer per table is the contract (the
reference's Airflow DAGs are serialized per-table by scheduling, SURVEY
§3). A second writer is detected at its commit: two writers that read the
same head both put entry ``n + 1``; the second put raises
``FileExistsError``, the first writer's version stays as committed, and
the loser deletes its staged snapshot. That is exact on HDFS; on the
local filesystem it catches a sequential conflict but not a true race
(see ``CommitLog``).

At 100 TB, full-snapshot versions are only sane for dimensions; for fact
tables the same manifest trick records per-version FILE LISTS (append =
old list + new files), which is exactly what ``ParquetTable.append`` +
zone-map stats (operators/skipping.py) compose into. ``write_incremental``
implements that: appended files join the NEW version's file list without
rewriting prior data.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession

from airflow_dags_spark.operators.commit import CommitLog, remove


class VersionedParquetTable:
    """Manifest-pointer versioned table (single writer)."""

    def __init__(self, spark: SparkSession, path: str) -> None:
        self.spark = spark
        self.path = path.rstrip("/")
        self._log = CommitLog(
            spark, f"{self.path}/_log", supersedes=f"{self.path}/_manifest.json"
        )

    def _head(self) -> tuple[int, dict]:
        """``(n, manifest)`` of the log head; ``(-1, empty)`` before the
        first commit."""
        return self._log.head() or (-1, {"current": 0, "versions": []})

    # -- public API ---------------------------------------------------------

    def current_version(self) -> int:
        return int(self._head()[1]["current"])

    @staticmethod
    def _next_version(m: dict) -> int:
        """Next unused version number. Allocated off the MAX ever committed,
        not ``current + 1`` — after ``rollback(to)`` the pointer moves back
        but earlier versions still exist, and ``current + 1`` would collide
        with one of them. Rollback-then-repair must be able to commit."""
        if not m["versions"]:
            return 1
        return max(int(v["version"]) for v in m["versions"]) + 1

    def history(self) -> list[dict]:
        return list(self._head()[1]["versions"])

    def _write_version(self, df: DataFrame, op: str, incremental: bool) -> int:
        """Stage ``df`` as the next version's own dir, then put the
        manifest entry listing it (after the current version's paths when
        ``incremental``). The staged dir is deleted when the entry does
        not land."""
        n, m = self._head()
        v = self._next_version(m)
        prev = [
            p
            for x in m["versions"]
            if incremental and x["version"] == m["current"]
            for p in x["paths"]
        ]
        vdir = f"{self.path}/v={v:06d}-{uuid.uuid4().hex[:8]}"
        try:
            df.write.mode("errorifexists").parquet(vdir)
            entry = {"version": v, "op": op, "paths": prev + [vdir]}
            self._log.commit(n + 1, {"current": v, "versions": m["versions"] + [entry]})
        except BaseException:
            remove(self.spark, vdir)
            raise
        return v

    def write(self, df: DataFrame, op: str = "overwrite") -> int:
        """Commit ``df`` as the next full snapshot; returns its version."""
        return self._write_version(df, op, incremental=False)

    def write_incremental(self, df: DataFrame, op: str = "append") -> int:
        """Commit ``df`` as NEW FILES joining the current file list — the
        fact-table path: prior snapshots' data is never rewritten; the new
        version's path list = previous list + the new directory."""
        return self._write_version(df, op, incremental=True)

    def read(self, version: int | None = None) -> DataFrame:
        """Scan the current (default) or a historical version."""
        m = self._head()[1]
        want = int(m["current"]) if version is None else int(version)
        for v in m["versions"]:
            if v["version"] == want:
                return self.spark.read.parquet(*v["paths"])
        raise ValueError(
            f"version {want} not found (retained: "
            f"{[v['version'] for v in m['versions']]})"
        )

    def diff(
        self,
        keys: list[str] | str,
        from_version: int,
        to_version: int | None = None,
        compare_cols: list[str] | None = None,
    ) -> DataFrame:
        """CDC between two retained versions: what changed from
        ``from_version`` to ``to_version`` (default: current) as
        (keys, change_type insert/delete/update, old_*/new_*) rows —
        time travel composed with the engine's table_diff, so an incident
        review answers "what did the bad merge actually do" from the
        version history alone, no external change log.

        Same scale shape as table_diff: ONE full-outer shuffle over
        keys + compare columns; both snapshot scans are plain parquet
        (pushdown intact)."""
        from airflow_dags_spark.operators.maintenance import table_diff

        keys = [keys] if isinstance(keys, str) else list(keys)
        old = self.read(version=from_version)
        new = self.read(version=to_version)
        return table_diff(old, new, keys, compare_cols)

    def rollback(self, to: int) -> None:
        """Point the table back at a prior version — O(1), no data moved."""
        n, m = self._head()
        if to not in [v["version"] for v in m["versions"]]:
            raise ValueError(f"cannot roll back to missing version {to}")
        self._log.commit(n + 1, {**m, "current": to})

    def vacuum(self, keep_last: int = 2) -> list[int]:
        """Drop versions beyond the ``keep_last`` most recent (the current
        version is always kept). Returns removed versions.

        The new manifest is committed FIRST; a version's DIRECTORY is then
        removed only when no retained version's file list references it
        (incremental versions share directories), so a crash in between
        leaves only unreferenced dirs."""
        n, m = self._head()
        order = sorted(v["version"] for v in m["versions"])
        keep = set(order[-keep_last:]) | {int(m["current"])}
        kept = [v for v in m["versions"] if v["version"] in keep]
        self._log.commit(n + 1, {**m, "versions": kept})
        kept_paths = {p for v in kept for p in v["paths"]}
        for v in m["versions"]:
            for p in v["paths"]:
                if v["version"] not in keep and p not in kept_paths:
                    remove(self.spark, p)
        return [v["version"] for v in m["versions"] if v["version"] not in keep]
