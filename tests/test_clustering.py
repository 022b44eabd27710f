"""Distributed k-means + semantic dedup (operators/clustering.py): the
distributed fit must match a driver-side numpy Lloyd reference from the
same init, and semantic_dedup must equal a brute-force numpy implementation
of the min-key-wins rule when clusters are clean."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from airflow_dags_spark.operators.clustering import (
    assign_clusters,
    kmeans_fit,
    semantic_dedup,
    semantic_dedup_two_level,
)


def _unit(x):
    n = np.linalg.norm(x, axis=1, keepdims=True)
    return x / np.where(n > 0, n, 1.0)


def _blobs(seed=7, n_per=40, k=3, dim=8, noise=0.05):
    """k well-separated unit directions + small noise."""
    rng = np.random.RandomState(seed)
    dirs = _unit(rng.randn(k, dim))
    # push them apart: orthogonalize via QR
    q, _ = np.linalg.qr(rng.randn(dim, dim))
    dirs = q[:k]
    pts, labels = [], []
    for j in range(k):
        pts.append(_unit(dirs[j] + noise * rng.randn(n_per, dim)))
        labels += [j] * n_per
    return np.vstack(pts), np.array(labels)


def _df_from(spark, x, ids=None):
    ids = ids if ids is not None else range(len(x))
    rows = [(int(i), [float(v) for v in row]) for i, row in zip(ids, x)]
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")


def test_kmeans_recovers_separated_blobs(spark):
    x, labels = _blobs()
    df = _df_from(spark, x)
    centers = kmeans_fit(df, "embedding", 3, key_col="vec_id", seed=1)
    got = assign_clusters(df, centers, "embedding").collect()
    assign = {r["vec_id"]: r["cluster"] for r in got}
    # perfect purity: every ground-truth blob maps to exactly one cluster
    for j in range(3):
        members = {assign[i] for i in np.where(labels == j)[0]}
        assert len(members) == 1, f"blob {j} split across clusters {members}"
    assert len({assign[i] for i in assign}) == 3


def _md5_head(ids, n):
    """The ids' md5-ordered head — the init sample the engine draws."""
    import hashlib

    return sorted(ids, key=lambda i: hashlib.md5(str(i).encode()).hexdigest())[:n]


def _lloyd_reference(xu, init_rows, k, seed, iters):
    """Plain numpy spherical Lloyd from the engine's seeded init."""
    rng = np.random.RandomState(seed)
    pick = rng.choice(len(init_rows), size=min(k, len(init_rows)), replace=False)
    ref = init_rows[pick].copy()
    for _ in range(iters):
        assign = np.argmax(xu @ ref.T, axis=1)
        new = ref.copy()
        for j in range(len(ref)):
            m = xu[assign == j]
            if len(m):
                new[j] = _unit(m.sum(axis=0, keepdims=True) / len(m))[0]
        ref = new
    return ref


@pytest.mark.parametrize("init_sample", [4096, 16])
def test_kmeans_matches_numpy_lloyd_reference(spark, init_sample):
    """Same deterministic init → both fits — in numpy when the corpus fits
    in ``init_sample``, distributed when it does not — must reproduce a
    plain numpy Lloyd loop (modulo float-sum order, hence allclose)."""
    x, _ = _blobs(seed=11, n_per=30)
    df = _df_from(spark, x).repartition(3)
    k, seed, iters = 4, 3, 8
    centers = kmeans_fit(
        df,
        "embedding",
        k,
        key_col="vec_id",
        seed=seed,
        max_iter=iters,
        tol=0.0,
        init_sample=init_sample,
    )
    x0 = _unit(x[_md5_head(range(len(x)), init_sample)])
    ref = _lloyd_reference(_unit(x), x0, k, seed, iters)
    assert np.allclose(centers, ref, atol=1e-9)


def test_kmeans_executor_reduce_matches_driver_fold(spark, monkeypatch):
    """Past ``_REDUCE_ABOVE_K`` the partials are reduced per cluster
    executor-side before the collect. That fold uses the driver fold's
    total order, so both paths return the same bits."""
    from airflow_dags_spark.operators import clustering

    x, _ = _blobs(seed=11, n_per=30)
    # six partitions: several partials per cluster, some with tied
    # counts, so the order past ``cnt`` decides the bits
    df = _df_from(spark, x).repartition(6)
    kw = dict(key_col="vec_id", seed=3, max_iter=6, init_sample=16)
    default = kmeans_fit(df, "embedding", 4, **kw)
    monkeypatch.setattr(clustering, "_REDUCE_ABOVE_K", 0)
    reduced = kmeans_fit(df, "embedding", 4, **kw)
    assert np.array_equal(reduced, default)


def test_batched_sub_kmeans_distributed_matches_per_cell_lloyd(spark):
    """With ``init_sample`` below every cell size the sub-fit takes the
    distributed path: all cells advance in one Spark pass per round, and
    each cell must still equal its own numpy Lloyd loop."""
    from airflow_dags_spark.operators.clustering import _batched_sub_kmeans

    x, _ = _blobs(seed=5, n_per=30, noise=0.3)  # 90 rows
    cell_of = {i: (7 if i % 3 else 2) for i in range(len(x))}  # 60 / 30 rows
    rows = [(i, cell_of[i], [float(v) for v in x[i]]) for i in range(len(x))]
    cells = spark.createDataFrame(
        rows, "vec_id bigint, cluster int, embedding array<double>"
    ).repartition(3)
    sizes = {7: 60, 2: 30}
    seed, iters, init_sample, target = 8, 6, 10, 10
    got = _batched_sub_kmeans(
        cells,
        sizes,
        [2, 7],
        "embedding",
        "vec_id",
        target_cluster_size=target,
        seed=seed,
        max_iter=iters,
        tol=0.0,
        init_sample=init_sample,
    )
    assert sorted(got) == [2, 7]
    for c, n in sizes.items():
        ids = [i for i in range(len(x)) if cell_of[i] == c]
        x0 = _unit(x[_md5_head(ids, init_sample)])
        k2 = max(2, int(n / target) + 1)
        ref = _lloyd_reference(_unit(x[ids]), x0, k2, seed + 1 + c, iters)
        assert got[c].shape == ref.shape
        assert np.allclose(got[c], ref, atol=1e-9)


def test_semantic_dedup_drops_duplicates_min_key_survives(spark):
    # noise wide enough that intra-blob cosine stays far below the 0.98
    # dup threshold (0.05-noise blobs are themselves ~0.99-similar)
    x, _ = _blobs(seed=5, n_per=20, noise=0.3)
    n = len(x)
    rng = np.random.RandomState(0)
    dup_src = [3, 17, 40]  # duplicate these rows (exact + near)
    near = _unit((x[dup_src[2]] + 0.01 * rng.randn(8))[None, :])[0]
    extra = [x[dup_src[0]], x[dup_src[1]], near]
    full = np.vstack([x, extra])
    df = _df_from(spark, full)
    marked = semantic_dedup(df, 0.98, n_clusters=3, seed=2).collect()
    kept = {r["vec_id"] for r in marked if r["kept"]}
    # duplicates (ids n, n+1, n+2) must be dropped; their sources survive
    for off, src in enumerate(dup_src):
        assert n + off not in kept
        assert src in kept
    # everything else untouched (blobs are separated, no accidental dups)
    assert kept == set(range(n))


def test_semantic_dedup_matches_global_bruteforce_on_clean_clusters(spark):
    x, _ = _blobs(seed=9, n_per=25, noise=0.3)
    dups = np.vstack([x[5], x[30], x[55], x[5]])  # incl. a chain 5→75→78
    full = np.vstack([x, dups])
    df = _df_from(spark, full)
    marked = semantic_dedup(df, 0.98, n_clusters=3, seed=4).collect()
    got_kept = {r["vec_id"] for r in marked if r["kept"]}

    xu = _unit(full)
    sims = np.round(xu @ xu.T, 6)
    want_kept = {
        i
        for i in range(len(full))
        if not any(sims[i, j] >= 0.98 for j in range(i))
    }
    assert got_kept == want_kept


def test_kmeans_more_clusters_than_points_no_crash(spark):
    x = _unit(np.random.RandomState(1).randn(5, 8))
    df = _df_from(spark, x)
    centers = kmeans_fit(df, "embedding", 16, key_col="vec_id")
    assert centers.shape == (5, 8)
    out = assign_clusters(df, centers, "embedding")
    assert out.count() == 5


def test_semantic_dedup_caps_cluster_count(spark):
    """The n/target sizing rule must respect max_clusters: k×dim centers
    live on the driver and broadcast to every task, so an uncapped rule is
    a driver bomb at corpus scale (50 B docs → k≈50 M → ~300 GB)."""
    x, _ = _blobs(seed=3, n_per=30, noise=0.3)
    df = _df_from(spark, x)
    # claim a huge corpus: without the cap the rule would ask for 10^6 cells
    marked = semantic_dedup(
        df, 0.98, approx_count=10**9, target_cluster_size=1000, max_clusters=4
    ).collect()
    assert len(marked) == len(x)
    assert {r["cluster"] for r in marked} <= set(range(4))


def test_semantic_dedup_approx_count_sizing_matches_counted(spark):
    """approx_count short-circuits the count() job but must produce the
    same dedup decisions as the counted path at the same scale."""
    x, _ = _blobs(seed=13, n_per=25, noise=0.3)
    full = np.vstack([x, x[10][None, :]])
    df = _df_from(spark, full)
    a = semantic_dedup(df, 0.98, seed=6).collect()
    b = semantic_dedup(df, 0.98, approx_count=len(full), seed=6).collect()
    assert sorted((r["vec_id"], r["kept"]) for r in a) == sorted(
        (r["vec_id"], r["kept"]) for r in b
    )


def test_two_level_splits_oversized_cells(spark):
    """One dominant blob forces an oversized coarse cell; the second level
    must split it (more final cells than coarse cells) while every final
    cell honors the within-cell min-key dedup rule exactly."""
    rng = np.random.RandomState(21)
    big = _unit(rng.randn(1, 8) + 0.25 * rng.randn(120, 8))  # one fat blob
    q, _ = np.linalg.qr(rng.randn(8, 8))
    small_a = _unit(q[3] + 0.05 * rng.randn(10, 8))
    small_b = _unit(q[4] + 0.05 * rng.randn(10, 8))
    full = np.vstack([big, small_a, small_b])
    df = _df_from(spark, full)
    marked = semantic_dedup_two_level(
        df,
        0.995,
        coarse_clusters=3,
        target_cluster_size=20,
        split_factor=2,  # cells > 40 rows split
        seed=8,
    ).collect()
    assert len(marked) == len(full)
    clusters = {}
    for r in marked:
        clusters.setdefault(r["cluster"], []).append(r)
    assert len(clusters) > 3  # the fat cell was split
    assert max(len(v) for v in clusters.values()) < 120  # no 120-row cell left
    # invariant: inside EVERY final cell, kept == min-key-wins brute force
    xu = _unit(full)
    for members in clusters.values():
        ids = sorted(r["vec_id"] for r in members)
        sims = np.round(xu[ids] @ xu[ids].T, 6)
        for pos, r in enumerate(sorted(members, key=lambda r: r["vec_id"])):
            want_kept = not any(sims[pos, j] >= 0.995 for j in range(pos))
            assert r["kept"] == want_kept


def test_two_level_no_split_matches_single_level(spark):
    """With no oversized cells, the two-level form must reduce to plain
    semantic_dedup on the same coarse quantizer — identical flags."""
    x, _ = _blobs(seed=17, n_per=20, noise=0.3)
    df = _df_from(spark, x)
    a = semantic_dedup(df, 0.98, n_clusters=3, seed=5).collect()
    b = semantic_dedup_two_level(
        df, 0.98, coarse_clusters=3, target_cluster_size=1000, seed=5
    ).collect()
    assert sorted((r["vec_id"], r["kept"], r["cluster"]) for r in a) == sorted(
        (r["vec_id"], r["kept"], r["cluster"]) for r in b
    )


def test_semantic_dedup_null_vectors_excluded(spark):
    rows = [(0, [1.0, 0.0]), (1, None), (2, [1.0, 0.0])]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    marked = semantic_dedup(df, 0.99, n_clusters=1).collect()
    ids = {r["vec_id"] for r in marked}
    assert ids == {0, 2}
    kept = {r["vec_id"] for r in marked if r["kept"]}
    assert kept == {0}
