"""Distributed embedding clustering + semantic (embedding-space) dedup.

- ``kmeans_fit``       — distributed spherical k-means (Lloyd): assignment
  and per-cluster partial sums run executor-side as one Arrow-batched
  ``mapInPandas`` pass per iteration (a BLAS matmul per batch, no shuffle);
  only the k×dim partial-sum rows come back to the driver (bounded by
  batches × k, never data rows — the treeAggregate shape MLlib uses).
  Deterministic: seeded init from the md5-ordered sample, stable argmax.
- ``assign_clusters``  — one narrow pass attaching the nearest-centroid id.
- ``semantic_dedup``   — SemDeDup-style near-dup pruning (Abbas et al.
  2023, arXiv:2303.09540): cluster the corpus, then exact pairwise cosine
  ONLY inside each cluster; a row is dropped when a lower-keyed neighbor in
  its cluster exceeds the threshold (min-key-wins, deterministic). The
  all-pairs cost is bounded per cluster — pick n_clusters so the expected
  cluster fits executor memory (the paper's k=50k over 5B docs ⇒ ~100k-row
  clusters); the cross-cluster miss rate is the standard SemDeDup trade.

One spherical k-means step serves ``kmeans_fit``, the two-level sub-fit,
the IVF quantizer fit (``similarity._fit_coarse_quantizer``) and the IVF
store's batch statistics (``ann_store.ivf_batch_stats``): the executor
kernel ``_partials`` (unit-normalize, argmax, per-(group, cluster)
``(cnt, vsum)``), the total-order fold ``_fold`` and the Lloyd loop
``_lloyd``, fed in memory by ``_local_partials`` or by one Spark pass per
round through ``_spark_partials``. An ungrouped fit is group 0.

Complements the lexical dedup family (operators/dedup.py): MinHash catches
token overlap, SimHash bit similarity, this catches SEMANTIC duplicates
(paraphrases, translations, re-encodings) that shared-token methods miss.

No reference analogue (the reference has no vector surface at all); built
against the public SemDeDup recipe + FAISS-style quantizer practice.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from airflow_dags_spark.functions.vectors import as_double

# Past this k an extra (group, cluster)-keyed shuffle reduces the partials
# executor-side, so the driver collects one row per cluster (the
# treeAggregate shape); below it the shuffle costs more than the collect it
# saves (measured 2.6× on the sf0.1 semantic-dedup drive).
_REDUCE_ABOVE_K = 8192

_PARTIALS = StructType(
    [
        StructField("grp", IntegerType()),
        StructField("cluster", IntegerType()),
        StructField("cnt", LongType()),
        StructField("vsum", ArrayType(DoubleType())),
    ]
)

# (grp, cluster, cnt, vsum) partial rows, from memory or from a Spark pass
_Partials = Callable[[dict[int, np.ndarray]], list]


def _unit(x: np.ndarray) -> np.ndarray:
    norms = np.linalg.norm(x, axis=1, keepdims=True)
    return x / np.where(norms > 0, norms, 1.0)


def _seeded_init(x: np.ndarray, k: int, seed: int) -> np.ndarray:
    """k seeded draws without replacement from the rows of ``x``."""
    rng = np.random.RandomState(seed)
    return x[rng.choice(len(x), size=min(k, len(x)), replace=False)].copy()


def _assign_sums(x: np.ndarray, centers: np.ndarray) -> Iterator[tuple]:
    """(cluster, cnt, vsum) of unit rows ``x`` under their nearest center;
    ties break to the lowest cluster id."""
    assign = np.argmax(x @ centers.T, axis=1)
    for j in np.unique(assign):
        m = x[assign == j]
        yield int(j), len(m), m.sum(axis=0)


def _partials(centers: dict[int, np.ndarray]):
    """The executor kernel, a ``mapInPandas`` function over ``(grp, v)``
    batches: each task accumulates its WHOLE partition into one
    ``(grp, cluster, cnt, vsum)`` row per key — ≤ Σk rows per task however
    many Arrow batches it holds. Groups absent from ``centers`` (converged)
    are skipped. ``centers`` must already be unit rows."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        acc: dict[tuple[int, int], list] = {}
        for pdf in batches:
            if not len(pdf):
                continue
            x = _unit(np.vstack(pdf["v"].to_numpy()).astype(np.float64))
            grp = pdf["grp"].to_numpy()
            for g in np.unique(grp):
                c = centers.get(int(g))
                if c is None:
                    continue
                for j, n, s in _assign_sums(x[grp == g], c):
                    key = (int(g), j)
                    if key in acc:
                        acc[key][0] += n
                        acc[key][1] += s
                    else:
                        acc[key] = [n, s]
        if acc:
            yield pd.DataFrame(
                [(g, j, n, s.tolist()) for (g, j), (n, s) in sorted(acc.items())],
                columns=_PARTIALS.names,
            )

    return run


def _fold(rows: list) -> dict[tuple[int, int], list]:
    """Sum ``(grp, cluster, cnt, vsum)`` partials per (grp, cluster) in the
    TOTAL order (grp, cluster, cnt, vsum): the same bits for any shuffle or
    collect arrival order. Returns ``{(grp, cluster): [cnt, vsum]}``."""
    dim = max((len(r[3]) for r in rows), default=0)
    out: dict[tuple[int, int], list] = {}
    for g, j, n, v in sorted(rows, key=lambda r: (r[0], r[1], r[2], tuple(r[3]))):
        if len(v) != dim:
            raise ValueError(
                "heterogeneous vector lengths in batch: partial sums "
                f"disagree on dim for cell {j} ({len(v)} vs {dim})"
            )
        key = (int(g), int(j))
        if key in out:
            out[key][0] += int(n)
            out[key][1] += np.asarray(v, dtype=np.float64)
        else:
            out[key] = [int(n), np.array(v, dtype=np.float64)]
    return out


def _reduce_partials(pdf: pd.DataFrame) -> pd.DataFrame:
    """Executor-side fold of one (grp, cluster)'s partials, in ``_fold``'s
    order — so the reduced path returns the driver fold's bits."""
    [((g, j), (n, s))] = _fold(list(pdf.itertuples(index=False, name=None))).items()
    return pd.DataFrame([(g, j, n, s.tolist())], columns=_PARTIALS.names)


def _spark_partials(vecs: DataFrame, *, reduce: bool = False) -> _Partials:
    """One Spark pass per call over ``vecs`` (columns ``grp``, ``v``)."""

    def run(centers: dict[int, np.ndarray]) -> list:
        part = vecs.mapInPandas(_partials(centers), _PARTIALS)
        if reduce:
            part = part.groupBy("grp", "cluster").applyInPandas(
                _reduce_partials, _PARTIALS
            )
        return part.collect()  # bounded: ≤ tasks × Σk rows

    return run


def _local_partials(xs: dict[int, np.ndarray]) -> _Partials:
    """The same partials from unit rows held on the driver: zero Spark jobs."""
    return lambda centers: [
        (g, *p) for g, c in centers.items() for p in _assign_sums(xs[g], c)
    ]


def _lloyd(
    partials: _Partials,
    centers: dict[int, np.ndarray],
    *,
    max_iter: int,
    tol: float | None,
) -> dict[int, np.ndarray]:
    """Spherical Lloyd rounds for independent groups of unit centers. Each
    round folds ``partials`` of the active groups and moves every center
    with members to its unit mean. A group converges, and drops out of
    later rounds, when no center moved more than ``tol`` (cosine of
    successive centers ≥ 1 - tol); ``tol=None`` runs every round."""
    centers = dict(centers)
    active = sorted(centers)
    for _ in range(max_iter):
        if not active:
            break
        stats = {
            g: (np.zeros(len(centers[g])), np.zeros_like(centers[g])) for g in active
        }
        for (g, j), (n, s) in _fold(partials({g: centers[g] for g in active})).items():
            stats[g][0][j], stats[g][1][j] = n, s
        for g in list(active):
            counts, sums = stats[g]
            new = centers[g].copy()
            nz = counts > 0
            new[nz] = _unit(sums[nz] / counts[nz, None])
            shift = 1.0 - np.min(np.sum(new * centers[g], axis=1))
            centers[g] = new
            if tol is not None and shift < tol:
                active.remove(g)
    return centers


def kmeans_fit(
    df: DataFrame,
    vec_col: str,
    k: int,
    *,
    key_col: str,
    max_iter: int = 20,
    tol: float = 1e-6,
    seed: int = 42,
    init_sample: int = 4096,
) -> np.ndarray:
    """Fit k spherical-k-means centroids (unit vectors) distributed.

    Init: k seeded draws from the md5-ordered ``init_sample`` head — the
    engine's deterministic-sample idiom. Each Lloyd round is one
    shuffle-free executor pass in which every TASK accumulates its whole
    partition into ≤ k (cluster, cnt, vsum) partial rows (across Arrow
    batches, not per batch) — the map-side combine. The driver then folds
    ≤ partitions × k rows. When k > ``_REDUCE_ABOVE_K`` an extra k-key
    shuffle reduces partials per cluster executor-side first, so the
    driver collects exactly k rows. Convergence when no centroid moves
    more than ``tol`` (cosine of successive centroids ≥ 1 - tol).

    Determinism: partials are folded in a TOTAL sort order
    (cluster, cnt, vsum), on the driver and in the executor-side reduce
    alike, removing shuffle/collect-arrival nondeterminism — refits are
    bit-identical for a fixed partitioning, with or without the reduce.
    Across DIFFERENT partitionings the partial-sum boundaries themselves
    differ, so centers agree only to float-accumulation order (ulp)."""
    vecs = df.where(F.col(vec_col).isNotNull())
    sample = [
        r[0]
        for r in vecs.orderBy(F.md5(F.col(key_col).cast("string")))
        .select(as_double(vec_col))
        .limit(init_sample)
        .collect()
    ]
    x0 = _unit(np.asarray(sample, dtype=np.float64))
    if len(sample) < init_sample:
        # The md5-ordered sample did not hit its cap, i.e. it IS the whole
        # non-null corpus: every distributed Lloyd round would scan exactly
        # these rows, so the rounds run in numpy — ZERO Spark jobs per
        # round (a distributed round costs ~0.25 s at sf0.1). Centers agree
        # with the distributed fold to float-accumulation order (ulp) — the
        # envelope different partitionings already have.
        partials = _local_partials({0: x0})
    else:
        partials = _spark_partials(
            vecs.select(F.lit(0).alias("grp"), as_double(vec_col).alias("v")),
            reduce=k > _REDUCE_ABOVE_K,
        )
    centers = {0: _seeded_init(x0, k, seed)}
    return _lloyd(partials, centers, max_iter=max_iter, tol=tol)[0]


def assign_clusters(
    df: DataFrame,
    centers: np.ndarray,
    vec_col: str,
    out_col: str = "cluster",
) -> DataFrame:
    """Attach nearest-centroid id: one Arrow-batched shuffle-free pass
    (BLAS batch × k matmul); ties break to the lowest cluster id."""
    from pyspark.sql.functions import pandas_udf

    c = centers

    @pandas_udf("int")
    def _cell(v: pd.Series) -> pd.Series:
        x = _unit(np.vstack(v.to_numpy()).astype(np.float64))
        return pd.Series(np.argmax(x @ c.T, axis=1).astype("int32"))

    return df.withColumn(out_col, _cell(F.col(vec_col)))


def semantic_dedup(
    embeddings: DataFrame,
    threshold: float,
    *,
    key_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int | None = None,
    target_cluster_size: int = 1000,
    max_clusters: int = 65_536,
    approx_count: int | None = None,
    seed: int = 42,
    max_iter: int = 10,
) -> DataFrame:
    """SemDeDup: cluster, then drop any row with a LOWER-keyed same-cluster
    neighbor at cosine ≥ threshold (min-key-wins — the chain-safe greedy
    rule: the minimum of every duplicate chain always survives).

    Returns key, cluster, kept flag, and the best within-cluster
    lower-neighbor similarity (NULL when none) — callers filter
    ``kept`` for the pruned corpus or inspect near-miss margins.

    Scale shape: per-cluster work is quadratic, so ``n_clusters`` defaults
    to corpus_size / target_cluster_size — cluster size (and with it the
    per-task cost) stays CONSTANT as the corpus grows; total cost grows
    linearly in n. (A fixed n_clusters=8 measured 19.7× time at 10× data;
    the auto-scaled form is ~linear — SCALE.md.) The exact phase is one
    groupBy(cluster) → applyInPandas running a blocked BLAS gram matrix per
    cluster — no |cluster|² joined rows, no per-pair interpreted lambda.

    ``max_clusters`` caps the n/target rule (default 65 536): k×dim centers
    live on the driver AND broadcast to every assignment task, so unbounded
    k is a driver/broadcast bomb at corpus scale (~50 B docs would give
    k≈50 M → ~300 GB of centers under the raw rule). Past the cap, cluster
    size grows with n instead — the SemDeDup paper itself runs k=50 k over
    5 B docs (~100 k-row clusters, fine: the blocked gram is block×cluster
    memory). Corpora where even capped clusters exceed executor memory
    should recursively re-run semantic_dedup per oversized cluster
    (two-level clustering) — cheap because each sub-run sees only one
    cluster's rows.

    ``approx_count`` short-circuits the sizing ``count()`` job — pass
    ``sources.tables.parquet_row_count(...)`` (footer metadata, zero Spark
    jobs) when the corpus is a parquet path. Sizing only needs order of
    magnitude, so a pre-filter count is fine."""
    base = embeddings.where(F.col(vec_col).isNotNull())
    if n_clusters is None:
        n = approx_count if approx_count is not None else base.count()
        n_clusters = min(
            max_clusters, max(8, int(n / max(target_cluster_size, 1)) + 1)
        )
    centers = kmeans_fit(
        base, vec_col, n_clusters, key_col=key_col, seed=seed, max_iter=max_iter
    )
    assigned = assign_clusters(
        base.select(F.col(key_col), F.col(vec_col)), centers, vec_col
    )

    return _dedup_within_clusters(assigned, threshold, key_col, vec_col)


def _dedup_within_clusters(
    assigned: DataFrame, threshold: float, key_col: str, vec_col: str
) -> DataFrame:
    """The exact phase shared by semantic_dedup and the two-level variant:
    one groupBy(cluster) → applyInPandas; per cluster a blocked BLAS gram
    matrix marks rows with a lower-keyed neighbor ≥ threshold."""
    out_schema = StructType(
        [
            assigned.schema[key_col],
            StructField("cluster", IntegerType()),
            StructField("kept", BooleanType()),
            StructField("best_lower_sim", DoubleType()),
        ]
    )

    def per_cluster(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(key_col, kind="mergesort").reset_index(drop=True)
        x = _unit(np.vstack(pdf[vec_col].to_numpy()).astype(np.float64))
        n = len(x)
        best = np.full(n, np.nan)
        # blocked gram matrix: block × n memory, full-cluster never held
        for lo in range(1, n, 1024):
            hi = min(lo + 1024, n)
            # only lower-keyed columns matter: x[:hi] halves the FLOPs
            s = np.round(x[lo:hi] @ x[:hi].T, 6)
            for i in range(lo, hi):
                best[i] = s[i - lo, :i].max()
        bl = pd.Series(best).where(pd.notna(best), None)
        return pd.DataFrame(
            {
                key_col: pdf[key_col],
                "cluster": pdf["cluster"].astype("int32"),
                "kept": ~(best >= threshold),
                "best_lower_sim": bl,
            }
        )

    return assigned.groupBy("cluster").applyInPandas(per_cluster, out_schema)


def _batched_sub_kmeans(
    cells_df: DataFrame,
    sizes: dict[int, int],
    oversized: list[int],
    vec_col: str,
    key_col: str,
    *,
    target_cluster_size: int,
    seed: int,
    max_iter: int,
    tol: float = 1e-6,
    init_sample: int = 4096,
) -> dict[int, np.ndarray]:
    """Fit one sub-quantizer PER oversized coarse cell with ALL cells
    advancing together: each cell is a group of ``_lloyd``, so every
    distributed round is ONE Arrow-batched pass over the combined frame
    (per-task partials bounded by Σ k₂ rows). Same init recipe as
    ``kmeans_fit`` (seeded draw from the md5-ordered per-cell head — here
    computed for every cell in ONE window job). Converged cells drop out of
    later rounds; the loop ends when all converge or ``max_iter`` is hit."""
    from pyspark.sql import Window as W

    md5k = F.md5(F.col(key_col).cast("string"))
    head = (
        cells_df.select(
            "cluster", md5k.alias("__m"), as_double(vec_col).alias("__v")
        )
        .withColumn(
            "__rn",
            F.row_number().over(W.partitionBy("cluster").orderBy("__m")),
        )
        .where(F.col("__rn") <= init_sample)
        .select("cluster", "__m", "__v")
        .collect()
    )
    by_cell: dict[int, list] = {}
    for r in sorted(head, key=lambda r: (r["cluster"], r["__m"])):
        by_cell.setdefault(int(r["cluster"]), []).append(r["__v"])
    xs = {c: _unit(np.asarray(by_cell[c], dtype=np.float64)) for c in oversized}
    centers = {
        c: _seeded_init(
            xs[c], max(2, int(sizes[c] / max(target_cluster_size, 1)) + 1), seed + 1 + c
        )
        for c in sorted(oversized)
    }
    if all(sizes[c] <= init_sample for c in oversized):
        # Every oversized cell's md5-ordered head IS the whole cell (the
        # caller's ``sizes`` are exact counts): the rounds run in numpy,
        # ZERO Spark jobs — the same trade as ``kmeans_fit``.
        partials = _local_partials(xs)
    else:
        partials = _spark_partials(
            cells_df.select(
                F.col("cluster").alias("grp"), as_double(vec_col).alias("v")
            )
        )
    return _lloyd(partials, centers, max_iter=max_iter, tol=tol)


def semantic_dedup_two_level(
    embeddings: DataFrame,
    threshold: float,
    *,
    key_col: str = "vec_id",
    vec_col: str = "embedding",
    coarse_clusters: int = 1024,
    target_cluster_size: int = 1000,
    split_factor: int = 4,
    seed: int = 42,
    max_iter: int = 10,
) -> DataFrame:
    """Two-level SemDeDup: the scale form past ``semantic_dedup``'s
    ``max_clusters`` cap. Level 1 fits a bounded COARSE quantizer
    (``coarse_clusters`` ≤ 65k — driver/broadcast-safe no matter the corpus
    size); any coarse cell larger than ``split_factor × target_cluster_size``
    is then re-clustered by its OWN sub-quantizer (k₂ = size/target), and the
    exact gram-matrix phase runs inside final (coarse, sub) cells.

    Why not just raise k at level 1: k×dim centers ship to every task, so
    level-1 k must stay bounded; two levels give k₁×k₂ effective cells while
    never broadcasting more than max(k₁, max k₂) centers. The driver loop
    over oversized cells is bounded by k₁; each sub-fit scans ONLY its
    cell's rows (the assigned frame is cached across the loop).

    Same output contract as ``semantic_dedup``; ``cluster`` is the final
    cell id (coarse_id when unsplit, a derived unique id when split).
    Dedup semantics note: splitting trades recall exactly like adding
    clusters does — near-dups straddling sub-cells are missed (standard
    SemDeDup trade, bounded by sub-cell purity)."""
    base = embeddings.where(F.col(vec_col).isNotNull())
    centers = kmeans_fit(
        base, vec_col, coarse_clusters, key_col=key_col, seed=seed, max_iter=max_iter
    )
    assigned = assign_clusters(
        base.select(F.col(key_col), F.col(vec_col)), centers, vec_col
    ).persist()
    try:
        sizes = {
            r["cluster"]: r["n"]
            for r in assigned.groupBy("cluster").agg(F.count(F.lit(1)).alias("n")).collect()
        }
        split_at = split_factor * target_cluster_size
        oversized = sorted(c for c, n in sizes.items() if n > split_at)

        out = assigned
        if oversized:
            keep = assigned.where(~F.col("cluster").isin(oversized))
            cells_frame = assigned.where(F.col("cluster").isin(oversized))
            # ALL oversized cells advance one Lloyd round per Spark job
            # (batched: a sequential per-cell kmeans_fit loop costs
            # |oversized| × max_iter driver round trips; this costs
            # ≤ 1 + max_iter)
            sub_centers = _batched_sub_kmeans(
                cells_frame,
                sizes,
                oversized,
                vec_col,
                key_col,
                target_cluster_size=target_cluster_size,
                seed=seed,
                max_iter=max_iter,
            )
            # final ids: unsplit cells keep coarse id; split cells get ids
            # above the coarse range, disjoint per (coarse, sub)
            bases: dict[int, int] = {}
            next_base = len(centers)
            for c in sorted(oversized):
                bases[c] = next_base
                next_base += len(sub_centers[c])

            from pyspark.sql.functions import pandas_udf

            @pandas_udf("int")
            def _final_cell(cell: pd.Series, v: pd.Series) -> pd.Series:
                res = np.empty(len(cell), dtype=np.int32)
                cells_arr = cell.to_numpy()
                for c in np.unique(cells_arr):
                    idx = np.flatnonzero(cells_arr == c)
                    cc = sub_centers[int(c)]
                    x = _unit(np.vstack(v.iloc[idx].to_numpy()).astype(np.float64))
                    # ties break to the lowest sub id (first argmax), as in
                    # assign_clusters
                    res[idx] = bases[int(c)] + np.argmax(x @ cc.T, axis=1)
                return pd.Series(res)

            sub = cells_frame.withColumn(
                "cluster", _final_cell(F.col("cluster"), as_double(vec_col))
            )
            out = keep.unionByName(sub)
        # the exact phase runs AFTER the union so Spark schedules all final
        # cells in one stage; materialize (off-heap safe: DISK_ONLY) so the
        # cached assignment can be released before returning
        result = _dedup_within_clusters(out, threshold, key_col, vec_col)
        result = result.localCheckpoint(eager=True, storageLevel=StorageLevel.DISK_ONLY)
        return result
    finally:
        assigned.unpersist()
