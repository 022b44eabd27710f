"""PageRank (operators/graph.py) vs an exact numpy power iteration —
including dangling-node mass, teleport normalization, and convergence —
plus the iteration-state protocol (operators/iterate.py) that PageRank and
connected components share: cleanup on failure, one action per round."""

from __future__ import annotations

import tempfile

import numpy as np
import pytest
from pyspark.sql import functions as F


def numpy_pagerank(n, edge_list, damping=0.85, iters=60):
    """Dense reference power iteration with uniform dangling redistribution."""
    ranks = np.full(n, 1.0 / n)
    out = {}
    for s, d in edge_list:
        out.setdefault(s, []).append(d)
    for _ in range(iters):
        new = np.full(n, (1.0 - damping) / n)
        dangling = sum(ranks[v] for v in range(n) if v not in out)
        new += damping * dangling / n
        for s, targets in out.items():
            share = ranks[s] / len(targets)
            for d in targets:
                new[d] += damping * share
        ranks = new
    return ranks


def run_pagerank(spark, n, edge_list, **kw):
    from airflow_dags_spark.operators.graph import pagerank

    nodes = spark.createDataFrame([(i,) for i in range(n)], "node bigint")
    edges = spark.createDataFrame(
        edge_list or [(0, 0)], "src bigint, dst bigint"
    )
    if not edge_list:
        edges = edges.where(F.lit(False))
    got = pagerank(nodes, edges, max_iter=60, tol=1e-12, **kw)
    return {r["node"]: r["rank"] for r in got.collect()}


def test_pagerank_matches_numpy_on_cyclic_graph(spark):
    # 0→1→2→0 cycle plus a chain into it and a dangling sink
    edges = [(0, 1), (1, 2), (2, 0), (3, 0), (4, 3), (0, 5)]
    got = run_pagerank(spark, 6, edges)
    want = numpy_pagerank(6, edges)
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)
    for v in range(6):
        assert got[v] == pytest.approx(want[v], abs=1e-9)


def test_pagerank_star_center_dominates(spark):
    edges = [(i, 0) for i in range(1, 8)]
    got = run_pagerank(spark, 8, edges)
    assert got[0] == max(got.values())
    want = numpy_pagerank(8, edges)
    for v in range(8):
        assert got[v] == pytest.approx(want[v], abs=1e-9)


def test_pagerank_no_edges_is_uniform(spark):
    got = run_pagerank(spark, 5, [])
    # all mass is dangling: teleport + redistributed dangling = uniform
    for v in range(5):
        assert got[v] == pytest.approx(0.2, abs=1e-9)


@pytest.mark.slow
def test_pagerank_total_mass_conserved_on_random_graph(spark):
    rng = np.random.RandomState(7)
    n = 30
    edges = list({(int(rng.randint(n)), int(rng.randint(n))) for _ in range(80)})
    got = run_pagerank(spark, n, edges)
    want = numpy_pagerank(n, edges)
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)
    for v in range(n):
        assert got[v] == pytest.approx(want[v], abs=1e-8)


# --- the shared iteration loop (operators/iterate.py) ------------------------


def _pagerank_chain(spark, **kw):
    from airflow_dags_spark.operators.graph import pagerank

    nodes = spark.createDataFrame([(i,) for i in range(6)], "node bigint")
    edges = spark.createDataFrame([(i, i + 1) for i in range(5)], "src bigint, dst bigint")
    # tol=0 never stops early: exactly max_iter rounds
    return pagerank(nodes, edges, max_iter=3, tol=0.0, **kw).collect()


def _cc_chain(spark, **kw):
    from airflow_dags_spark.operators.dedup import connected_components

    nodes = spark.createDataFrame([(i,) for i in range(6)], "node bigint")
    edges = spark.createDataFrame([(i, i + 1) for i in range(5)], "key_a bigint, key_b bigint")
    return connected_components(nodes, edges, **kw).collect()


# operator -> (runner, static inputs it materializes, rounds on the 6-chain,
# driver actions it takes outside the loop). Connected components needs 5
# rounds on the chain: labels [0,0,1,2,3,4] → [0,0,0,1,2,3] →
# [0,0,0,0,0,1] → all 0, then one round that changes nothing.
ITERATIVE_OPERATORS = {
    "pagerank": (_pagerank_chain, 2, 3, 1),  # nodes.count() for the teleport
    "connected_components": (_cc_chain, 1, 5, 0),
}


class _RoundFailed(Exception):
    pass


def _parquet_writes(monkeypatch, spark, fail_at=None):
    """Count state writes; raise on the ``fail_at``-th one."""
    writer_cls = type(spark.range(1).write)
    real = writer_cls.parquet
    calls = []

    def parquet(self, path, *args, **kwargs):
        calls.append(path)
        if len(calls) == fail_at:
            raise _RoundFailed(path)
        return real(self, path, *args, **kwargs)

    monkeypatch.setattr(writer_cls, "parquet", parquet)
    return calls


@pytest.mark.parametrize("own_state_dir", [True, False], ids=["state_dir", "mkdtemp"])
@pytest.mark.parametrize("op", sorted(ITERATIVE_OPERATORS))
def test_iteration_state_removed_when_a_round_fails(spark, monkeypatch, tmp_path, op, own_state_dir):
    run, n_static, _, _ = ITERATIVE_OPERATORS[op]
    tmp_root = tmp_path / "tmp"
    tmp_root.mkdir()
    state_dir = tmp_path / "state"
    state_dir.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_root))
    # static inputs, the initial state, round 1, then round 2 fails
    calls = _parquet_writes(monkeypatch, spark, fail_at=n_static + 3)
    with pytest.raises(_RoundFailed):
        run(spark, state_dir=str(state_dir) if own_state_dir else None)
    assert len(calls) == n_static + 3
    assert list(state_dir.iterdir()) == []
    assert list(tmp_root.glob("spark_graft_*")) == []


@pytest.mark.parametrize("op", sorted(ITERATIVE_OPERATORS))
def test_iteration_round_is_one_action(spark, monkeypatch, op):
    """The state write is the only driver action inside the loop: no
    ``first()``/``collect()``/``count()`` per round."""
    run, n_static, rounds, actions_outside_loop = ITERATIVE_OPERATORS[op]
    df_cls = type(spark.range(1))
    actions = []
    for name in ("collect", "count", "toPandas"):
        real = getattr(df_cls, name)

        def counted(self, *args, _real=real, _name=name, **kwargs):
            actions.append(_name)
            return _real(self, *args, **kwargs)

        monkeypatch.setattr(df_cls, name, counted)
    writes = _parquet_writes(monkeypatch, spark)
    assert run(spark)  # the runner's own final collect() is one more action
    assert len(writes) == n_static + 1 + rounds
    assert len(actions) == actions_outside_loop + 1, actions
