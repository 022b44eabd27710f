"""The versioned-store protocol (operators/versioned_store.py) driven
through every store built on it: a crash at the commit point — after the
state write, before the ledger entry — leaves the committed view
unchanged, and the replay heals to exactly what a clean run commits. Plus
the store-equivalence oracles, which must read the persisted state back."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from airflow_dags_spark.operators.ann_store import IvfIndexStore, PqCodebookStore
from airflow_dags_spark.operators.commit import CommitLog
from airflow_dags_spark.operators.packing import TokenStreamStore


class _Crash(RuntimeError):
    pass


def _ann_case(cls, shape):
    def steps(spark, sf_dir):
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        return [
            lambda s: s.init_from(
                emb.where(F.col("vec_id") < 40), **shape, fit_sample=40
            ),
            lambda s: s.add_batch(
                emb.where((F.col("vec_id") >= 40) & (F.col("vec_id") < 90)),
                "batch-A",
            ),
        ]

    def view(store):
        if store.current_version() < 0:
            return (-1, [])
        return (
            store.current_version(),
            sorted(tuple(r) for r in store.state().collect()),
        )

    return cls, steps, view, ["__init__", "batch-A"], None


def _tokens_case():
    def steps(spark, sf_dir):
        def counts(rows):
            return spark.createDataFrame(rows, "doc_id bigint, n bigint")

        return [
            lambda s: s.append_batch(counts([(1, 10)]), "n", "b0"),
            lambda s: s.append_batch(counts([(2, 5)]), "n", "b1"),
        ]

    def view(store):
        v = store.current_version()
        spans = (
            sorted(tuple(r) for r in store.assignments().collect())
            if v >= 0
            else []
        )
        return (v, store.next_offset(), spans)

    expect = (
        [(0, 10, [(1, 0, 10, "b0")]), (1, 15, [(1, 0, 10, "b0"), (2, 10, 15, "b1")])],
        [
            {"applied": True, "version": 0, "next_offset": 10},
            {"applied": True, "version": 1, "next_offset": 15},
        ],
    )
    return TokenStreamStore, steps, view, ["b0", "b1"], expect


CASES = {
    "ivf": _ann_case(IvfIndexStore, {"n_cells": 4}),
    "pq": _ann_case(PqCodebookStore, {"m": 4, "n_codes": 8}),
    "tokens": _tokens_case(),
}


@pytest.mark.parametrize("kind", list(CASES))
def test_crash_at_commit_then_replay(spark, sf_dir, tmp_path, monkeypatch, kind):
    """For the init (first) commit and a later one: raise at the shared
    commit point, check the committed view and that the failed attempt
    removed its staged state, replay, and compare with a clean run; then
    re-deliver the committed batch."""
    cls, make_steps, view, batch_ids, expect = CASES[kind]
    steps = make_steps(spark, sf_dir)

    clean = cls(spark, str(tmp_path / "clean"))
    clean_views, clean_outs = [view(clean)], []
    for step in steps:
        clean_outs.append(step(clean))
        clean_views.append(view(clean))
    if expect is not None:
        assert (clean_views[1:], clean_outs) == expect

    path = str(tmp_path / "crash")
    store = cls(spark, path)
    real_commit = CommitLog.commit

    def crash(self, *a, **k):
        raise _Crash("crash before the ledger entry")

    def state_dirs():
        return len(os.listdir(os.path.join(path, "state")))

    for i, step in enumerate(steps):
        monkeypatch.setattr(CommitLog, "commit", crash)
        with pytest.raises(_Crash):
            step(store)
        monkeypatch.setattr(CommitLog, "commit", real_commit)
        # the failed attempt deleted its staged state; no reader sees it
        assert state_dirs() == i
        assert view(cls(spark, path)) == clean_views[i]

        out = step(store)  # the replay
        assert out == clean_outs[i]
        assert out["applied"] and out["version"] == i
        assert view(cls(spark, path)) == clean_views[i + 1]

        again = step(store)  # at-least-once re-delivery of a committed batch
        assert not again["applied"] and again["version"] == i
        assert view(cls(spark, path)) == clean_views[i + 1]
        assert state_dirs() == i + 1

    assert store.current_version() == len(batch_ids) - 1


@pytest.mark.parametrize(
    "query,cls",
    [("sim_ivf_store_topk", IvfIndexStore), ("sim_pq_store_topk", PqCodebookStore)],
)
def test_store_equivalence_oracle_reads_persisted_state(
    spark, sf_dir, monkeypatch, query, cls
):
    """Corrupt ONLY the parquet state that ``add_batch`` persisted (the
    writer's in-memory rows stay correct): the store arm must serve the
    corrupted state, so some query stops matching the direct arm."""
    from airflow_dags_spark.plans import round13

    add_batch = cls.add_batch

    def add_then_corrupt(self, *a, **k):
        out = add_batch(self, *a, **k)
        path = os.path.dirname(self.state().inputFiles()[0])
        persisted = spark.read.parquet(path)
        bad = [
            tuple(r[:-2]) + (r["vec_sum"][::-1], r["n_members"])
            for r in persisted.collect()
        ]
        spark.createDataFrame(bad, persisted.schema).write.mode(
            "overwrite"
        ).parquet(path)
        return out

    monkeypatch.setattr(cls, "add_batch", add_then_corrupt)
    sf001 = os.path.join(os.path.dirname(sf_dir), "sf0.01")
    got = getattr(round13, query)(spark, sf001).collect()
    assert len(got) == 8
    assert not all(r["matches"] for r in got)


@pytest.mark.parametrize("kind", list(CASES))
def test_old_parquet_ledger_raises_naming_the_path(spark, tmp_path, kind):
    """A store written before the commit log (a parquet ``ledger/``) is
    not read as an empty store: reads and writes raise, naming the path."""
    cls = CASES[kind][0]
    path = str(tmp_path / "store")
    spark.createDataFrame([("b0", 0)], "batch_id string, version int").write.parquet(
        f"{path}/ledger"
    )
    store = cls(spark, path)
    for call in (store.exists, store.current_version, store.state):
        with pytest.raises(ValueError, match=f"{path}/ledger"):
            call()
