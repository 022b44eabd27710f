"""Persistent, incrementally re-centered ANN quantizers: the IVF coarse
quantizer (:class:`IvfIndexStore`) and the PQ codebooks
(:class:`PqCodebookStore`) — the similarity-search analog of
:class:`operators.ingest.MinhashSignatureStore` (VERDICT r7 §Next-round
#6: "maintain the ANN index as the corpus grows").

An ANN index trained once degrades as the corpus drifts: new documents
cluster where no cell is dense, probe recall decays, and a full re-train
re-scans the corpus. These stores instead keep the *sufficient
statistics* of spherical k-means per cell (per (subspace, code) for PQ) —
``(…, vec_sum[dim], n_members)`` over unit-normalized member vectors — so
each arriving batch folds in with one distributed assignment pass plus a
k×dim-bounded state update, and the current model is always derived from
``vec_sum / n_members``. This is the mini-batch k-means update of Sculley
(WWW'10) with batch-grained steps, persisted.

Replay safety is the versioned-state + batch-ledger protocol of
:mod:`operators.versioned_store` (which also states the excluded
concurrent writers): each applied batch stages a full state parquet
(k×dim rows — tiny) and then commits its ledger entry ``(batch_id,
version, state, refit)``.

100 TB shape: the batch side is one shuffle-free Arrow-batched pass of
the spherical k-means kernel in ``operators/clustering.py`` (numpy matmul
per batch against the broadcast k×dim model, per-cell partial sums); only
k×dim (sum, count) partials ever reach the driver. The corpus is never
re-scanned, mirroring the signature store's sign-once property.

Both stores carry the re-center-vs-re-train drift policy: a deterministic
md5-sampled vector reservoir feeds a seeded re-fit via ``maybe_refit``
when the maintained model has drifted past the caller's threshold — and
both feed the SERVING path directly: ``ivf_ann_topk(centers=
store.centroids_matrix())`` / ``pq_ann_topk(books=store.codebooks())``
search against the maintained artifacts with no per-call re-fit.

Reference parity note: the reference system (vinkumdev/airflow-dags) has no
vector surface at all; this extends the engine's LLM-pipeline brief
(SURVEY.md §2.9, similarity family).
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from airflow_dags_spark.functions.vectors import as_double
from airflow_dags_spark.operators.clustering import _fold, _spark_partials, _unit
from airflow_dags_spark.operators.upsert import ParquetTable
from airflow_dags_spark.operators.versioned_store import VersionedStore


def ivf_batch_stats(
    vecs: DataFrame,
    centers: np.ndarray,
    n_cells: int,
    *,
    vec_col: str = "embedding",
) -> list[tuple]:
    """Distributed per-cell (Σ unit-vector, count) of a batch as
    ``[(cell, vec_sum, n_members)]`` for every cell in ``range(n_cells)``:
    one pass of the shared spherical k-means kernel against the
    unit-normalized ``centers``, its ≤ tasks × n_cells partial rows folded
    on the driver in a total order (deterministic for any collect order).
    Module-level so the store-backed query oracles can recompute the
    identical fold WITHOUT the persistence layer (store-vs-direct
    equivalence, r10 verdict #1)."""
    frame = vecs.where(F.col(vec_col).isNotNull()).select(
        F.lit(0).alias("grp"), as_double(vec_col).alias("v")
    )
    folded = _fold(_spark_partials(frame)({0: _unit(centers)}))
    dim = max((len(s) for _, s in folded.values()), default=0)
    out = []
    for cell in range(n_cells):
        n, s = folded.get((0, cell), (0, np.zeros(dim)))
        out.append((cell, s.tolist(), n))
    return out


class _AnnStore(VersionedStore):
    """Versioned quantizer statistics with the drift policy. The state's
    last two columns are ``vec_sum, n_members``; the columns before them
    key the cell. Subclasses supply the fit (``_fit``), the stats kernel
    (``_batch_stats``), model-from-state (``_model_from``), the state
    schema, and the names ``init_from`` / ``add_batch`` report the model
    shape and shift under.

    **Re-center vs re-train**: incremental folding re-centers the model
    toward the true member means but cannot move a vector across Voronoi
    boundaries — after enough corpus drift the PARTITION itself is stale.
    The store therefore keeps (a) a deterministic md5-sampled VECTOR
    RESERVOIR (parquet, keyed insert-if-absent — grows with the corpus at
    the sample rate, replay-pure), and (b) a ``refit`` flag on ledger
    entries marking which versions were (re)fits. :meth:`drift_since_fit`
    measures how far the current model has re-centered away from the
    last fit's; :meth:`maybe_refit` re-trains from the reservoir (seeded
    Lloyd) only past the caller's threshold."""

    _shape_keys: tuple[str, ...]
    _shift_key: str

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        *,
        key_col: str = "vec_id",
        vec_col: str = "embedding",
    ) -> None:
        super().__init__(spark, path, key_col=key_col)
        self.vec_col = vec_col
        self._sample = ParquetTable(spark, f"{self.path}/sample", key_col)

    # -- state access -------------------------------------------------------

    def _model(self, _rows: list | None = None) -> np.ndarray:
        rows = self._ledger_rows() if _rows is None else _rows
        v = self.current_version(rows)
        if v < 0:
            raise self._not_initialized()
        return self._model_from(self._state_rows(v, rows))

    @staticmethod
    def _shift(a: np.ndarray, b: np.ndarray) -> float:
        """Mean L2 distance between matching rows (centroids or codes)."""
        d = a.reshape(-1, a.shape[-1]) - b.reshape(-1, b.shape[-1])
        return float(np.linalg.norm(d, axis=1).mean())

    def last_fit_version(self, _rows: list | None = None) -> int:
        """Version of the last (re)train."""
        rows = (self._ledger_rows() if _rows is None else _rows) or []
        fits = [int(r["version"]) for r in rows if r["refit"]]
        return max(fits) if fits else 0

    def _drift(self, model: np.ndarray, ledger: list | None) -> float:
        fit = self._state_at(self.last_fit_version(ledger), ledger).collect()
        return self._shift(model, self._model_from(fit))

    def drift_since_fit(self) -> float:
        """Mean L2 shift of the model rows between the last (re)fit
        version's state and the current state — the observable that
        drives the re-center-vs-re-train policy."""
        ledger = self._ledger_rows()
        return self._drift(self._model(ledger), ledger)

    # -- writes -------------------------------------------------------------

    def _reserve(self, vecs: DataFrame, sample_hex: str) -> None:
        """Fold the batch's deterministic md5 sample into the reservoir
        (keyed insert-if-absent → replay-pure, grows at the sample rate)."""
        picked = vecs.where(
            F.substring(F.md5(F.col(self.key_col).cast("string")), 1, 1)
            < sample_hex
        ).select(self.key_col, as_double(self.vec_col).alias("v"))
        self._sample.insert_if_absent(picked, order_by=[self.key_col])

    def _init_from(
        self, vecs, shape, batch_id, fit_sample, max_iter, seed, sample_hex
    ) -> dict:
        ledger = self._ledger_rows()
        if ledger is not None:
            if self._applied(batch_id, ledger):
                return {"applied": False, "version": self.current_version(ledger)}
            raise ValueError("init_from on an already-initialized store")
        clean = vecs.where(F.col(self.vec_col).isNotNull())
        model = self._fit(clean, shape, fit_sample, max_iter, seed)
        self._reserve(clean, sample_hex)
        self._commit(batch_id, 0, self._batch_stats(clean, model, shape), refit=True)
        return {"applied": True, "version": 0, **dict(zip(self._shape_keys, shape))}

    def add_batch(
        self, vecs: DataFrame, batch_id: str, *, sample_hex: str = "4"
    ) -> dict:
        """Assign a new batch to the CURRENT model, fold its per-cell sums
        into the state, persist as the next version. Replay of an applied
        ``batch_id`` is a no-op (ledger check); a crash between the state
        write and the ledger commit leaves an orphan state dir no reader
        sees, and the replay commits afresh."""
        ledger = self._ledger_rows()  # ONE ledger read: applied + version
        if self._applied(batch_id, ledger):
            return {"applied": False, "version": self.current_version(ledger)}
        version0 = self.current_version(ledger)
        if version0 < 0:
            raise self._not_initialized()
        # ONE state read serves both the model and the fold base (the
        # streaming sinks run this per micro-batch)
        state_rows = self._state_rows(version0, ledger)
        model = self._model_from(state_rows)
        clean = vecs.where(F.col(self.vec_col).isNotNull())
        self._reserve(clean, sample_hex)
        cur = {tuple(r[:-2]): (list(r[-2]), int(r[-1])) for r in state_rows}
        merged = []
        n_new = 0
        for *key, dsum, dn in self._batch_stats(clean, model, model.shape[:-1]):
            osum, on = cur[tuple(key)]
            if dn == 0:
                # empty delta carries no dimensions — keep the old sums
                merged.append((*key, osum, on))
                continue
            if len(dsum) != len(osum):
                raise ValueError(
                    f"batch vector dim {len(dsum)} != store dim {len(osum)} "
                    f"(cell {key}) — zip would silently truncate sums"
                )
            merged.append((*key, [a + b for a, b in zip(osum, dsum)], on + dn))
            n_new += dn
        version = version0 + 1
        # the new model comes from the rows _commit returns: no state
        # re-read on the per-micro-batch path
        new_rows = self._commit(batch_id, version, merged, refit=False)
        shift = self._shift(self._model_from(new_rows), model)
        return {
            "applied": True,
            "version": version,
            # a PQ vector is counted once per subspace
            "n_assigned": n_new // math.prod(model.shape[:-2]),
            self._shift_key: round(shift, 9),
        }

    def maybe_refit(
        self,
        batch_id: str,
        *,
        drift_threshold: float,
        fit_sample: int = 20000,
        max_iter: int = 10,
        seed: int = 42,
    ) -> dict:
        """The re-train arm of the drift policy: when the model has
        re-centered further than ``drift_threshold`` from the last fit,
        re-train it from the reservoir (seeded Lloyd on a DETERMINISTIC
        md5-ordered subset — stable under reservoir growth order) and seed
        the new version's statistics from the reservoir's assignment to
        the new model. Below the threshold: no-op (incremental
        re-centering is still adequate). Idempotent on ``batch_id`` — a
        replayed refit never trains twice. An EMPTY reservoir (no key
        sampled yet at the configured ``sample_hex`` rate) is a diagnosed
        no-op, never a crash — the streaming sink must not die mid-batch
        on a small corpus."""
        ledger = self._ledger_rows()  # ONE ledger read for the whole call
        if self._applied(batch_id, ledger):
            return {"applied": False, "version": self.current_version(ledger)}
        version0 = self.current_version(ledger)
        cur = self._model_from(self._state_rows(version0, ledger))
        drift = self._drift(cur, ledger)
        if drift <= drift_threshold:
            return {"applied": False, "refit": False, "drift": round(drift, 9)}
        if not self._sample.exists() or self._sample.read().limit(1).count() == 0:
            return {
                "applied": False,
                "refit": False,
                "drift": round(drift, 9),
                "reason": "empty_reservoir",
            }
        shape = cur.shape[:-1]
        sample = (
            self._sample.read()
            .orderBy(
                F.md5(F.col(self.key_col).cast("string")), F.col(self.key_col)
            )
            .limit(fit_sample)
            .select(F.col("v").alias(self.vec_col))
        )
        model = self._fit(sample, shape, fit_sample, max_iter, seed)
        stats = self._batch_stats(
            self._sample.read().select(F.col("v").alias(self.vec_col)),
            model,
            shape,
        )
        version = version0 + 1
        self._commit(batch_id, version, stats, refit=True)
        return {
            "applied": True,
            "refit": True,
            "version": version,
            "drift": round(drift, 9),
        }


class IvfIndexStore(_AnnStore):
    """Parquet-backed IVF cell state — ``(cell, vec_sum, n_members)`` per
    version — with batch-grained incremental re-centering. A stale coarse
    partition hurts probe recall more than any codebook does, which is
    what the drift policy's re-train guards against."""

    _label = "IVF index"
    _state_schema = "cell int, vec_sum array<double>, n_members bigint"
    _shape_keys = ("n_cells",)
    _shift_key = "mean_centroid_shift"

    @staticmethod
    def _centers_from(state_rows) -> np.ndarray:
        """(k, dim) unit-normalized centroid matrix from state rows."""
        rows = sorted(state_rows, key=lambda r: r["cell"])
        mat = np.asarray([r["vec_sum"] for r in rows], dtype=np.float64)
        n = np.asarray([r["n_members"] for r in rows], dtype=np.float64)
        return _unit(mat / np.where(n > 0, n, 1.0)[:, None])

    _model_from = _centers_from

    def _fit(self, vecs, shape, fit_sample, max_iter, seed) -> np.ndarray:
        from airflow_dags_spark.operators.similarity import _fit_coarse_quantizer

        return _fit_coarse_quantizer(
            vecs, self.vec_col, *shape, fit_sample, max_iter, seed
        )

    def _batch_stats(self, vecs, centers, shape) -> list[tuple]:
        # the fit can return fewer centers than cells on a tiny sample;
        # the missing cells stay empty
        return ivf_batch_stats(vecs, centers, shape[0], vec_col=self.vec_col)

    def centroids_matrix(self) -> np.ndarray:
        """Current centroids as a dense (k, dim) array — bounded k×dim
        driver-side, ordered by cell id."""
        return self._model()

    def centroids(self) -> DataFrame:
        """Current unit-normalized centroids as (cell, centroid) rows.

        Empty cells (``n_members == 0``) yield their stored all-zero
        ``vec_sum`` unchanged — the ZERO vector, exactly what
        :meth:`centroids_matrix` (the assignment path) returns for the
        same cell. An unguarded ``vec_sum / 0.0`` would instead emit NULL
        components and make the two accessors disagree."""
        s = self.state()
        mean = F.when(
            F.col("n_members") > 0,
            F.transform(
                "vec_sum", lambda x: x / F.col("n_members").cast("double")
            ),
        ).otherwise(F.col("vec_sum"))
        norm = F.sqrt(
            F.aggregate(mean, F.lit(0.0), lambda acc, x: acc + x * x)
        )
        unit = F.when(norm > 0, F.transform(mean, lambda x: x / norm)).otherwise(
            mean
        )
        return s.select("cell", unit.alias("centroid"), "n_members")

    def init_from(
        self,
        vecs: DataFrame,
        n_cells: int,
        *,
        batch_id: str = "__init__",
        fit_sample: int = 20000,
        max_iter: int = 10,
        seed: int = 42,
        sample_hex: str = "4",
    ) -> dict:
        """Train the initial quantizer (sampled, seeded — the
        `ivf_ann_topk` fit) and fold the full init corpus into cell
        statistics. Idempotent on ``batch_id``."""
        return self._init_from(
            vecs, (n_cells,), batch_id, fit_sample, max_iter, seed, sample_hex
        )


class PqCodebookStore(_AnnStore):
    """Persistent, incrementally re-centered PQ codebooks (VERDICT r8
    §Next-round #5): the m per-subspace codebooks that
    ``similarity.pq_ann_topk`` encodes against.

    State per version: ``(subspace, code, vec_sum[dim/m], n_members)``
    over unit-normalized member SUB-vectors, so the current codebook
    entry is always ``vec_sum / n_members`` (zero vector for a code that
    never attracted members — consistent with the IVF empty-cell
    contract). Each arriving batch is encoded against the CURRENT
    codebooks (Arrow-batched argmin, shuffle-free).

    100 TB shape: per-batch cost is one narrow encode pass + one
    per-(subspace, code, dim) partial aggregation; only m × n_codes ×
    (dim/m) = n_codes × dim partials reach the driver. A refit reads the
    bounded reservoir sample, never the corpus."""

    _label = "PQ store"
    _state_schema = (
        "subspace int, code int, vec_sum array<double>, n_members bigint"
    )
    _shape_keys = ("m", "n_codes")
    _shift_key = "mean_code_shift"

    @staticmethod
    def _books_from(state_rows) -> np.ndarray:
        """(m, n_codes, sub) codebook array from state rows: entry = mean
        of member sub-vectors; zero vector for empty codes."""
        by = {(r["subspace"], r["code"]): r for r in state_rows}
        m = 1 + max(j for j, _ in by)
        n_codes = 1 + max(c for _, c in by)
        sub = len(next(iter(by.values()))["vec_sum"])
        books = np.zeros((m, n_codes, sub))
        for (j, c), r in by.items():
            n = int(r["n_members"])
            if n > 0:
                books[j, c] = np.asarray(r["vec_sum"], dtype=np.float64) / n
        return books

    _model_from = _books_from

    def _fit(self, vecs, shape, fit_sample, max_iter, seed) -> np.ndarray:
        from airflow_dags_spark.operators.similarity import _fit_pq_codebooks

        return _fit_pq_codebooks(
            vecs, self.vec_col, *shape, fit_sample, max_iter, seed
        )

    def _batch_stats(self, vecs, books, shape) -> list[tuple]:
        return pq_batch_stats(vecs, books, vec_col=self.vec_col)

    def codebooks(self) -> np.ndarray:
        """Current (m, n_codes, dim/m) codebooks — bounded driver-side."""
        return self._model()

    def init_from(
        self,
        vecs: DataFrame,
        m: int,
        n_codes: int,
        *,
        batch_id: str = "__init__",
        fit_sample: int = 20000,
        max_iter: int = 10,
        seed: int = 42,
        sample_hex: str = "4",
    ) -> dict:
        """Train the initial codebooks (sampled, seeded) and fold the full
        init corpus into code statistics. Idempotent on ``batch_id``."""
        return self._init_from(
            vecs, (m, n_codes), batch_id, fit_sample, max_iter, seed, sample_hex
        )


def pq_batch_stats(
    vecs: DataFrame, books: np.ndarray, *, vec_col: str = "embedding"
) -> list[tuple]:
    """Distributed per-(subspace, code) (Σ unit sub-vector, count) of a
    batch; only ≤ tasks × m × n_codes partial rows are collected and
    folded on the driver in a TOTAL sort order (deterministic for any
    collect order). Module-level so the store-backed query oracles can
    recompute the identical fold WITHOUT the persistence layer
    (store-vs-direct equivalence, r10 verdict #1).

    r11 form: one ``mapInPandas`` pass — encode matmuls, unit
    normalization and per-code sub-vector sums all in numpy per Arrow
    batch, accumulated across the task (guide §4.2). The previous form
    posexploded every vector into dim rows through an interpreted unit
    projection and hash-aggregated rows × dim (subspace, code, subdim)
    groups — ~1.1 s per call at sf0.1 vs ~0.3 s; the streaming PQ sink
    pays this per micro-batch."""
    import pandas as pd
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    m, n_codes, sub = books.shape
    schema = StructType(
        [
            StructField("subspace", IntegerType()),
            StructField("code", IntegerType()),
            StructField("cnt", LongType()),
            StructField("vsum", ArrayType(DoubleType())),
        ]
    )

    def partials(batches):
        sums = np.zeros((m, n_codes, sub))
        counts = np.zeros((m, n_codes), dtype=np.int64)
        seen = False
        for pdf in batches:
            if not len(pdf):
                continue
            seen = True
            x = np.vstack(pdf["v"].to_numpy()).astype(np.float64)
            norms = np.linalg.norm(x, axis=1, keepdims=True)
            x = x / np.where(norms > 0, norms, 1.0)
            for j in range(m):
                xs = x[:, j * sub : (j + 1) * sub]
                d = -2.0 * (xs @ books[j].T) + (books[j] ** 2).sum(axis=1)[
                    None, :
                ]
                code = np.argmin(d, axis=1)
                np.add.at(sums[j], code, xs)
                np.add.at(counts[j], code, 1)
        if seen:
            out = [
                (j, c, int(counts[j, c]), sums[j, c].tolist())
                for j in range(m)
                for c in range(n_codes)
                if counts[j, c] > 0
            ]
            if out:
                yield pd.DataFrame(
                    out, columns=["subspace", "code", "cnt", "vsum"]
                )

    rows = (
        vecs.where(F.col(vec_col).isNotNull())
        .select(as_double(vec_col).alias("v"))
        .mapInPandas(partials, schema)
        .collect()
    )  # bounded: ≤ tasks × m × n_codes rows
    by: dict[tuple[int, int], np.ndarray] = {}
    counts: dict[tuple[int, int], int] = {}
    for r in sorted(
        rows,
        key=lambda r: (r["subspace"], r["code"], r["cnt"], tuple(r["vsum"])),
    ):
        key = (r["subspace"], r["code"])
        if key in by:
            by[key] += np.asarray(r["vsum"])
            counts[key] += int(r["cnt"])
        else:
            by[key] = np.asarray(r["vsum"], dtype=np.float64)
            counts[key] = int(r["cnt"])
    return [
        (
            j,
            c,
            by[(j, c)].tolist() if (j, c) in by else [0.0] * sub,
            counts.get((j, c), 0),
        )
        for j in range(m)
        for c in range(n_codes)
    ]
