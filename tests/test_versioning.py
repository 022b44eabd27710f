"""Snapshot versioning (operators/versioning.py): time travel, atomic
pointer commits, O(1) rollback, shared-directory-aware vacuum; plus
ParquetTable.vacuum_orphans and its recovery of a crashed swap."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from airflow_dags_spark.operators.versioning import VersionedParquetTable


def _t(spark, tmp_path):
    return VersionedParquetTable(spark, str(tmp_path / "vt"))


def _df(spark, *vals):
    return spark.createDataFrame([(v,) for v in vals], "v bigint")


def _dir(t, version):
    """The snapshot dir a version's own write staged (last of its paths)."""
    return next(v for v in t.history() if v["version"] == version)["paths"][-1]


def test_write_read_time_travel(spark, tmp_path):
    t = _t(spark, tmp_path)
    assert t.current_version() == 0
    t.write(_df(spark, 1, 2))
    t.write(_df(spark, 3))
    assert t.current_version() == 2
    assert sorted(r["v"] for r in t.read().collect()) == [3]
    assert sorted(r["v"] for r in t.read(version=1).collect()) == [1, 2]


def test_rollback_is_pointer_only(spark, tmp_path):
    t = _t(spark, tmp_path)
    t.write(_df(spark, 1))
    t.write(_df(spark, 2))
    v2_dir = _dir(t, 2)
    files_before = sorted(os.listdir(v2_dir))
    t.rollback(1)
    assert t.current_version() == 1
    assert [r["v"] for r in t.read().collect()] == [1]
    # no data moved or deleted by rollback
    assert sorted(os.listdir(v2_dir)) == files_before
    # roll forward again works too
    t.rollback(2)
    assert [r["v"] for r in t.read().collect()] == [2]


def test_write_after_rollback_allocates_fresh_version(spark, tmp_path):
    """Disaster-recovery path: rollback(to) then commit a repair. Version
    numbers must come from max-ever-committed + 1, not current + 1 — the
    latter collides with the still-existing v2 snapshot dir."""
    t = _t(spark, tmp_path)
    t.write(_df(spark, 1))  # v1
    t.write(_df(spark, 2))  # v2 (the "bad merge")
    t.rollback(1)
    v3 = t.write(_df(spark, 7))  # the repair commit must not collide with v2
    assert v3 == 3
    assert t.current_version() == 3
    assert [r["v"] for r in t.read().collect()] == [7]
    # full history retained: the bad v2 is still time-travelable
    assert [r["v"] for r in t.read(version=2).collect()] == [2]
    assert sorted(v["version"] for v in t.history()) == [1, 2, 3]


def test_write_incremental_after_rollback(spark, tmp_path):
    t = _t(spark, tmp_path)
    t.write(_df(spark, 1))  # v1
    t.write_incremental(_df(spark, 2))  # v2 = v1+v2
    t.rollback(1)
    v3 = t.write_incremental(_df(spark, 9))  # builds on CURRENT (v1), id 3
    assert v3 == 3
    assert sorted(r["v"] for r in t.read().collect()) == [1, 9]


def test_rollback_to_missing_version_raises(spark, tmp_path):
    t = _t(spark, tmp_path)
    t.write(_df(spark, 1))
    with pytest.raises(ValueError, match="missing version"):
        t.rollback(9)


def test_incremental_append_shares_directories(spark, tmp_path):
    t = _t(spark, tmp_path)
    t.write(_df(spark, 1))
    t.write_incremental(_df(spark, 2))
    t.write_incremental(_df(spark, 3))
    assert sorted(r["v"] for r in t.read().collect()) == [1, 2, 3]
    # v2 = v1's files + new dir; v1 dir written exactly once (not rewritten)
    assert sorted(r["v"] for r in t.read(version=2).collect()) == [1, 2]
    assert sorted(r["v"] for r in t.read(version=1).collect()) == [1]


def test_vacuum_keeps_current_and_shared_dirs(spark, tmp_path):
    t = _t(spark, tmp_path)
    t.write(_df(spark, 1))  # v1 (full)
    t.write_incremental(_df(spark, 2))  # v2 = v1+v2 dirs
    t.write(_df(spark, 9))  # v3 (full)
    t.write(_df(spark, 10))  # v4 (full)
    v1_dir = _dir(t, 1)
    removed = t.vacuum(keep_last=2)
    assert sorted(removed) == [1, 2]
    assert sorted(v["version"] for v in t.history()) == [3, 4]
    # v1's directory was shared ONLY by dropped versions → gone
    assert not os.path.exists(v1_dir)
    assert sorted(r["v"] for r in t.read().collect()) == [10]
    assert sorted(r["v"] for r in t.read(version=3).collect()) == [9]
    with pytest.raises(ValueError, match="not found"):
        t.read(version=1)


def test_vacuum_retains_dir_shared_with_kept_version(spark, tmp_path):
    t = _t(spark, tmp_path)
    t.write(_df(spark, 1))  # v1
    t.write_incremental(_df(spark, 2))  # v2 references v1's dir
    v1_dir = _dir(t, 1)
    t.vacuum(keep_last=1)  # drops v1 as a VERSION...
    # ...but its directory survives because current v2 still reads it
    assert os.path.exists(v1_dir)
    assert sorted(r["v"] for r in t.read().collect()) == [1, 2]


def test_manifest_commit_is_atomic_single_file(spark, tmp_path):
    """Each commit (write, rollback) is one new manifest entry, and no
    temp entry is left behind."""
    t = _t(spark, tmp_path)
    t.write(_df(spark, 1))
    t.write(_df(spark, 2))
    t.rollback(1)
    assert (t.current_version(), [v["version"] for v in t.history()]) == (1, [1, 2])
    names = os.listdir(str(tmp_path / "vt" / "_log"))
    assert sorted(n for n in names if not n.startswith(".")) == [
        f"{n:020d}.json" for n in range(3)
    ]
    # the .crc sidecars are Hadoop's checksum files, not temp entries
    assert not [n for n in names if n.startswith(".") and not n.endswith(".crc")]


def test_old_manifest_format_raises_naming_the_path(spark, tmp_path):
    """A table written before the commit log (a bare ``_manifest.json``)
    is not read as an empty table: reads raise, naming the path."""
    path = tmp_path / "vt"
    path.mkdir()
    (path / "_manifest.json").write_text('{"current": 0, "versions": []}')
    t = _t(spark, tmp_path)
    for read in (t.current_version, t.history, lambda: t.write(_df(spark, 1))):
        with pytest.raises(ValueError, match="_manifest.json"):
            read()


def test_parquettable_vacuum_orphans(spark, tmp_path):
    from airflow_dags_spark.operators.upsert import ParquetTable

    path = str(tmp_path / "t")
    t = ParquetTable(spark, path, "v")
    t.create_if_not_exists(_df(spark, 1))
    # simulate crashed swaps: a stage of each kind, a finished swap's backup
    for orphan in (".stage-deadbeef", ".compact-0b", ".zorder-0c", ".old-cafe01"):
        os.makedirs(path + orphan)
    removed = t.vacuum_orphans()
    assert sorted(removed) == [
        "t.compact-0b", "t.old-cafe01", "t.stage-deadbeef", "t.zorder-0c"
    ]
    assert sorted(os.listdir(tmp_path)) == ["t"]
    assert [r["v"] for r in t.read().collect()] == [1]  # live table untouched


def test_vacuum_orphans_restores_the_only_copy(spark, tmp_path):
    """A crash between a swap's two renames leaves no live dir and one
    ``.old-*`` backup — the only copy of the table. ``vacuum_orphans``
    must rename it back, not delete it."""
    from airflow_dags_spark.operators.upsert import ParquetTable

    path = str(tmp_path / "t")
    t = ParquetTable(spark, path, "v")
    t.create_if_not_exists(_df(spark, 1, 2))
    os.rename(path, path + ".old-cafe01")  # the state after the first rename
    os.makedirs(path + ".stage-deadbeef")
    t.vacuum_orphans()
    assert sorted(os.listdir(tmp_path)) == ["t"]
    assert sorted(r["v"] for r in t.read().collect()) == [1, 2]


def test_version_diff_classifies_changes(spark, tmp_path):
    """Time travel × CDC: diff(v1 → v2) reports exactly what the commit
    did — the incident-review primitive after a bad merge."""
    t = _t(spark, tmp_path)
    t.write(
        spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c")], "id bigint, val string"
        )
    )
    t.write(
        spark.createDataFrame(
            [(1, "a"), (2, "B2"), (4, "d")], "id bigint, val string"
        )
    )
    got = {
        r["id"]: r["change_type"]
        for r in t.diff("id", from_version=1, to_version=2).collect()
    }
    assert got == {2: "update", 3: "delete", 4: "insert"}
    # default to_version = current
    same = {
        r["id"]: r["change_type"] for r in t.diff("id", from_version=1).collect()
    }
    assert same == got
    # reverse direction inverts insert/delete
    rev = {
        r["id"]: r["change_type"]
        for r in t.diff("id", from_version=2, to_version=1).collect()
    }
    assert rev == {2: "update", 3: "insert", 4: "delete"}
