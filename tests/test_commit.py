"""The commit protocol (operators/commit.py) under injected crashes and a
second writer.

Every mutating filesystem call of commit.py goes through ``_put``,
``_rename`` or ``_delete``. ``_crash_at(k)`` lets calls 1..k-1 run and
makes call k, and every later one, raise — a process that died at call k.
For each table/store class and each call of its commit, a reader must then
see the old view or the new one, replaying the call must give the new
view, and a second replay must change nothing. The default tier keeps one
crash case per class; the full call × class matrix is the slow tier.
"""

from __future__ import annotations

import contextlib
import os

import pytest
from pyspark.sql import functions as F

from airflow_dags_spark.operators import commit
from airflow_dags_spark.operators.ann_store import IvfIndexStore
from airflow_dags_spark.operators.commit import CommitLog
from airflow_dags_spark.operators.maintenance import compact
from airflow_dags_spark.operators.packing import TokenStreamStore
from airflow_dags_spark.operators.upsert import ParquetTable
from airflow_dags_spark.operators.versioning import VersionedParquetTable


class _Crash(RuntimeError):
    pass


@contextlib.contextmanager
def _crash_at(monkeypatch, k: int):
    """Run calls 1..k-1 of commit.py's mutating seams; raise from call k
    on. Yields the list of calls seen."""
    calls: list[str] = []
    with monkeypatch.context() as mp:
        for name in ("_put", "_rename", "_delete"):

            def seam(*a, _real=getattr(commit, name), _name=name):
                calls.append(_name)
                if len(calls) >= k:
                    raise _Crash(f"crash at call {len(calls)} ({_name})")
                return _real(*a)

            mp.setattr(commit, name, seam)
        yield calls


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _df(spark, ids, tag):
    return spark.createDataFrame(
        [(i, i % 2, f"{tag}{i}") for i in ids], "id bigint, part int, val string"
    )


# -- cases: (setup, op, view, calls per clean op, replay only from old view) --


def _parquet_case(partition_by):
    def table(spark, path):
        return ParquetTable(spark, path, "id", partition_by=partition_by)

    def setup(spark, path):
        table(spark, path).create_if_not_exists(_df(spark, range(6), "a"))

    def op(spark, path):
        table(spark, path).overwrite(_df(spark, range(3, 9), "b"), ["id"])

    def view(spark, path):
        return _rows(table(spark, path).read())

    return setup, op, view, 3, False


def _create_case():
    def setup(spark, path):
        pass

    def op(spark, path):
        ParquetTable(spark, path, "id").create_if_not_exists(_df(spark, range(4), "a"))

    def view(spark, path):
        t = ParquetTable(spark, path, "id")
        return _rows(t.read()) if t.exists() else None

    return setup, op, view, 1, False


def _compact_case():
    def setup(spark, path):
        _df(spark, range(40), "a").repartition(6).write.parquet(path)

    def op(spark, path):
        compact(spark, path, target_file_bytes=1 << 20)

    def view(spark, path):
        rows = _rows(ParquetTable(spark, path, "id").read())  # recovers first
        return rows, len([n for n in os.listdir(path) if n.endswith(".parquet")])

    return setup, op, view, 3, False


def _versioned_case(kind):
    def setup(spark, path):
        t = VersionedParquetTable(spark, path)
        t.write(_df(spark, range(3), "a"))
        t.write(_df(spark, range(2), "b"))

    def op(spark, path):
        t = VersionedParquetTable(spark, path)
        if kind == "rollback":
            t.rollback(1)
        else:
            getattr(t, kind)(_df(spark, [7], "c"))

    def view(spark, path):
        t = VersionedParquetTable(spark, path)
        return t.current_version(), _rows(t.read())

    # write/write_incremental are not idempotent: a writer replays only
    # when it finds its version not committed
    return setup, op, view, 1, kind != "rollback"


def _ivf_case(step):
    def emb(spark, sf_dir, lo, hi):
        e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        return e.where((F.col("vec_id") >= lo) & (F.col("vec_id") < hi))

    def init(spark, sf_dir, path):
        IvfIndexStore(spark, path).init_from(emb(spark, sf_dir, 0, 40), n_cells=4, fit_sample=40)

    def add(spark, sf_dir, path):
        IvfIndexStore(spark, path).add_batch(emb(spark, sf_dir, 40, 90), "batch-A")

    def view(spark, path):
        s = IvfIndexStore(spark, path)
        return (s.current_version(), _rows(s.state())) if s.exists() else None

    if step == "init_from":
        return (lambda *a: None), init, view, 2, False
    return init, add, view, 1, False


def _tokens_case():
    def counts(spark, rows):
        return spark.createDataFrame(rows, "doc_id bigint, n bigint")

    def setup(spark, path):
        TokenStreamStore(spark, path).append_batch(counts(spark, [(1, 10)]), "n", "b0")

    def op(spark, path):
        TokenStreamStore(spark, path).append_batch(counts(spark, [(2, 5)]), "n", "b1")

    def view(spark, path):
        s = TokenStreamStore(spark, path)
        return s.current_version(), s.next_offset(), _rows(s.assignments())

    return setup, op, view, 1, False


CASES = {
    "parquet": _parquet_case(None),
    "parquet_partitioned": _parquet_case(["part"]),
    "create_if_not_exists": _create_case(),
    "compact": _compact_case(),
    "versioned_write": _versioned_case("write"),
    "versioned_write_incremental": _versioned_case("write_incremental"),
    "versioned_rollback": _versioned_case("rollback"),
    "ivf_init_from": _ivf_case("init_from"),
    "ivf_add_batch": _ivf_case("add_batch"),
    "tokens_append_batch": _tokens_case(),
}
# one crash case per class in the default tier: for the swap, the window
# between its two renames; for the logs, the put of the entry
DEFAULT = {
    ("parquet", 2),
    ("compact", 2),
    ("versioned_write", 1),
    ("ivf_add_batch", 1),
    ("tokens_append_batch", 1),
}
MATRIX = [
    pytest.param(
        kind, k, marks=() if (kind, k) in DEFAULT else pytest.mark.slow, id=f"{kind}-{k}"
    )
    for kind, case in CASES.items()
    for k in range(1, case[3] + 1)
]


@pytest.mark.parametrize("kind,k", MATRIX)
def test_crash_at_each_commit_call_then_replay(spark, sf_dir, tmp_path, monkeypatch, kind, k):
    setup, op, view, n_calls, guarded = CASES[kind]
    needs_sf = kind.startswith("ivf")

    def run(step, path):
        return step(spark, sf_dir, path) if needs_sf else step(spark, path)

    # a clean run gives the two views, and the number of calls the matrix covers
    clean = str(tmp_path / "clean")
    run(setup, clean)
    old = view(spark, clean)
    with _crash_at(monkeypatch, 10**9) as calls:
        run(op, clean)
    new = view(spark, clean)
    assert len(calls) == n_calls, calls
    assert new != old

    path = str(tmp_path / "crash")
    run(setup, path)
    with _crash_at(monkeypatch, k), pytest.raises(_Crash):
        run(op, path)
    assert view(spark, path) in (old, new)

    for _ in range(2):  # the replay, then a second one that changes nothing
        if not guarded or view(spark, path) == old:
            run(op, path)
        assert view(spark, path) == new


def test_crash_between_swap_renames_keeps_the_table_for_the_next_insert(
    spark, tmp_path, monkeypatch
):
    """A crash after the swap renamed the live dir away, before the stage
    took its place: the table must still exist for the next
    ``insert_if_absent``, which adds its delta to the old rows."""
    path = str(tmp_path / "t")
    t = ParquetTable(spark, path, "id")
    t.create_if_not_exists(_df(spark, range(100), "a"))
    with _crash_at(monkeypatch, 2), pytest.raises(_Crash):
        t.merge_upsert(_df(spark, [5], "b"), order_by=["id"])
    t = ParquetTable(spark, path, "id")
    assert t.exists()
    t.insert_if_absent(_df(spark, [100], "c"), order_by=["id"])
    assert t.read().count() == 101
    # the backup went back into place; only the crashed attempt's stage
    # is left, for vacuum_orphans
    assert [n for n in os.listdir(tmp_path) if n.startswith("t.old-")] == []
    assert [n.split("-")[0] for n in t.vacuum_orphans()] == ["t.stage"]


def test_crash_inside_manifest_commit_keeps_history_writable(spark, tmp_path, monkeypatch):
    """A crash inside the manifest commit leaves the history and the
    current version as they were, and the next write commits."""
    path = str(tmp_path / "vt")
    VersionedParquetTable(spark, path).write(_df(spark, range(3), "a"))
    with _crash_at(monkeypatch, 1), pytest.raises(_Crash):
        VersionedParquetTable(spark, path).write(_df(spark, [9], "b"))
    t = VersionedParquetTable(spark, path)
    assert [v["version"] for v in t.history()] == [1]
    assert t.current_version() == 1
    assert t.write(_df(spark, [7], "c")) == 2
    assert _rows(t.read()) == [(7, 1, "c7")]


# -- two writers ---------------------------------------------------------------


def _race(monkeypatch, first):
    """Make the next ``CommitLog.commit`` run ``first()`` (a second writer
    that read the same head) before it puts its own entry."""
    real = CommitLog.commit

    def commit_after_first(self, n, entry):
        monkeypatch.setattr(CommitLog, "commit", real)
        first()
        return real(self, n, entry)

    monkeypatch.setattr(CommitLog, "commit", commit_after_first)


def test_two_writers_versioned_table_second_commit_raises(spark, tmp_path, monkeypatch):
    path = str(tmp_path / "vt")
    a, b = VersionedParquetTable(spark, path), VersionedParquetTable(spark, path)
    a.write(_df(spark, range(3), "a"))
    _race(monkeypatch, lambda: a.write(_df(spark, [1], "first")))
    with pytest.raises(FileExistsError):
        b.write(_df(spark, [2], "second"))
    t = VersionedParquetTable(spark, path)
    assert t.current_version() == 2
    assert _rows(t.read()) == [(1, 1, "first1")]
    # the loser's staged snapshot is gone: only committed dirs remain
    committed = {os.path.basename(p) for v in t.history() for p in v["paths"]}
    assert {n for n in os.listdir(path) if n.startswith("v=")} == committed


@pytest.mark.parametrize("kind", ["ivf", "tokens"])
def test_two_writers_versioned_store_second_commit_raises(
    spark, sf_dir, tmp_path, monkeypatch, kind
):
    path = str(tmp_path / "store")
    if kind == "ivf":
        e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        IvfIndexStore(spark, path).init_from(e.where("vec_id < 40"), n_cells=4, fit_sample=40)
        a, b = IvfIndexStore(spark, path), IvfIndexStore(spark, path)
        first = lambda: a.add_batch(e.where("vec_id between 40 and 89"), "batch-A")  # noqa: E731
        second = lambda: b.add_batch(e.where("vec_id >= 90"), "batch-B")  # noqa: E731
        staged = ["state"]
    else:
        def counts(rows):
            return spark.createDataFrame(rows, "doc_id bigint, n bigint")

        TokenStreamStore(spark, path).append_batch(counts([(1, 10)]), "n", "b0")
        a, b = TokenStreamStore(spark, path), TokenStreamStore(spark, path)
        first = lambda: a.append_batch(counts([(2, 5)]), "n", "batch-A")  # noqa: E731
        second = lambda: b.append_batch(counts([(3, 7)]), "n", "batch-B")  # noqa: E731
        staged = ["state", "assignments"]
    b.current_version()  # b reads the head both writers start from
    committed = {}

    def run_first():
        first()
        committed["rows"] = _rows(a.state())

    _race(monkeypatch, run_first)
    with pytest.raises(FileExistsError):
        second()
    fresh = type(a)(spark, path)
    assert fresh.current_version() == 1
    assert _rows(fresh.state()) == committed["rows"]
    assert not fresh._applied("batch-B")
    for sub in staged:  # one dir per committed version: the loser's are gone
        assert len(os.listdir(os.path.join(path, sub))) == 2
