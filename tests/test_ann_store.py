"""IvfIndexStore: incremental IVF re-centering over sufficient statistics
— exactness vs a numpy reference, replay idempotence, versioned-state
crash healing, and centroid derivation consistency."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from airflow_dags_spark.operators.ann_store import IvfIndexStore

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture()
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


def _numpy_fold(vectors: np.ndarray, centers: np.ndarray):
    """Reference: assign unit vectors to argmax-cosine cell, return
    per-cell (sum of unit vectors, count)."""
    xn = vectors / np.linalg.norm(vectors, axis=1, keepdims=True)
    cn = centers / np.linalg.norm(centers, axis=1, keepdims=True)
    assign = np.argmax(xn @ cn.T, axis=1)
    k = len(centers)
    sums = np.zeros_like(centers)
    counts = np.zeros(k, dtype=int)
    for cell in range(k):
        members = xn[assign == cell]
        counts[cell] = len(members)
        if len(members):
            sums[cell] = members.sum(axis=0)
    return sums, counts


def test_add_batch_matches_numpy_reference(spark, emb, tmp_path):
    store = IvfIndexStore(spark, str(tmp_path / "ivf"))
    init = emb.where(F.col("vec_id") < 60)
    batch = emb.where((F.col("vec_id") >= 60) & (F.col("vec_id") < 140))
    store.init_from(init, n_cells=4, fit_sample=60, seed=7)

    c0 = store.centroids_matrix()
    state0 = {
        r["cell"]: (np.array(r["vec_sum"]), r["n_members"])
        for r in store.state().collect()
    }
    out = store.add_batch(batch, "b1")
    assert out["applied"] and out["version"] == 1

    X = np.array(
        [r["embedding"] for r in batch.orderBy("vec_id").collect()],
        dtype=np.float64,
    )
    d_sums, d_counts = _numpy_fold(X, c0)
    assert out["n_assigned"] == int(d_counts.sum()) == len(X)
    for r in store.state().collect():
        exp_sum = state0[r["cell"]][0] + d_sums[r["cell"]]
        exp_n = state0[r["cell"]][1] + int(d_counts[r["cell"]])
        assert r["n_members"] == exp_n
        np.testing.assert_allclose(np.array(r["vec_sum"]), exp_sum, rtol=1e-9)


def test_replay_same_batch_id_is_noop(spark, emb, tmp_path):
    store = IvfIndexStore(spark, str(tmp_path / "ivf"))
    store.init_from(emb.where(F.col("vec_id") < 40), n_cells=4, fit_sample=40)
    b = emb.where((F.col("vec_id") >= 40) & (F.col("vec_id") < 80))
    r1 = store.add_batch(b, "batch-A")
    state1 = sorted(
        (r["cell"], r["n_members"], tuple(r["vec_sum"]))
        for r in store.state().collect()
    )
    r2 = store.add_batch(b, "batch-A")  # at-least-once re-delivery
    assert r1["applied"] and not r2["applied"]
    assert r2["version"] == r1["version"] == store.current_version()
    state2 = sorted(
        (r["cell"], r["n_members"], tuple(r["vec_sum"]))
        for r in store.state().collect()
    )
    assert state1 == state2
    # init replay is also a no-op
    assert not store.init_from(emb, n_cells=4)["applied"]


def test_centroids_frame_matches_matrix(spark, emb, tmp_path):
    store = IvfIndexStore(spark, str(tmp_path / "ivf"))
    store.init_from(emb.where(F.col("vec_id") < 50), n_cells=4, fit_sample=50)
    mat = store.centroids_matrix()
    rows = store.centroids().orderBy("cell").collect()
    frame = np.array([r["centroid"] for r in rows])
    np.testing.assert_allclose(frame, mat, rtol=1e-9)
    # unit-normalized where non-degenerate
    norms = np.linalg.norm(frame, axis=1)
    np.testing.assert_allclose(norms[norms > 0], 1.0, rtol=1e-9)


def test_empty_batch_keeps_state(spark, emb, tmp_path):
    store = IvfIndexStore(spark, str(tmp_path / "ivf"))
    store.init_from(emb.where(F.col("vec_id") < 30), n_cells=2, fit_sample=30)
    before = sorted(
        (r["cell"], r["n_members"], tuple(r["vec_sum"]))
        for r in store.state().collect()
    )
    out = store.add_batch(emb.where(F.lit(False)), "empty-batch")
    assert out["applied"] and out["n_assigned"] == 0
    after = sorted(
        (r["cell"], r["n_members"], tuple(r["vec_sum"]))
        for r in store.state().collect()
    )
    assert before == after


def test_ivf_index_sink_streaming_maintenance(spark, emb, tmp_path):
    """Streaming end-to-end: batch 1 bootstraps the index (quantizer fit +
    seed statistics), batch 2 folds in against the batch-1 centroids, and
    a no-new-files re-run advances nothing (ledger idempotence through the
    streaming layer)."""
    from airflow_dags_spark.streaming.pipeline import ivf_index_sink

    landing = tmp_path / "vec_landing"
    landing.mkdir()
    emb.where(F.col("vec_id") < 60).write.parquet(str(landing / "b1"))
    # file-per-trigger landing: each subdir write is one new file set
    store_path = str(tmp_path / "ivf")

    def run():
        q = ivf_index_sink(
            spark.readStream.schema(
                "vec_id long, embedding array<float>, label int"
            ).option("maxFilesPerTrigger", "1000").parquet(str(landing / "*")),
            store_path,
            str(tmp_path / "ck"),
            n_cells=4,
            fit_sample=60,
        )
        q.awaitTermination(120)

    run()
    store = IvfIndexStore(spark, store_path)
    assert store.current_version() == 0
    total0 = sum(r["n_members"] for r in store.state().collect())
    assert total0 == 60

    emb.where((F.col("vec_id") >= 60) & (F.col("vec_id") < 110)).write.parquet(
        str(landing / "b2")
    )
    run()
    assert store.current_version() >= 1
    total1 = sum(r["n_members"] for r in store.state().collect())
    assert total1 == 110

    run()  # no new files: nothing re-applied
    assert sum(r["n_members"] for r in store.state().collect()) == 110


def test_ivf_index_sink_survives_all_null_first_batch(spark, emb, tmp_path):
    """A non-empty first micro-batch whose vectors are all NULL must not
    crash the quantizer fit (empty sample) — it is skipped like an empty
    batch, and the next real batch bootstraps the index."""
    from airflow_dags_spark.streaming.pipeline import ivf_index_sink

    landing = tmp_path / "vec_landing"
    landing.mkdir()
    spark.createDataFrame(
        [(900, None, None), (901, None, None)],
        "vec_id long, embedding array<float>, label int",
    ).write.parquet(str(landing / "b0"))

    def run():
        q = ivf_index_sink(
            spark.readStream.schema(
                "vec_id long, embedding array<float>, label int"
            ).parquet(str(landing / "*")),
            str(tmp_path / "ivf"),
            str(tmp_path / "ck"),
            n_cells=2,
            fit_sample=30,
        )
        q.awaitTermination(120)

    run()  # all-null batch: no crash, no store
    store = IvfIndexStore(spark, str(tmp_path / "ivf"))
    assert not store.exists()

    emb.where(F.col("vec_id") < 30).write.parquet(str(landing / "b1"))
    run()
    assert store.exists()
    assert sum(r["n_members"] for r in store.state().collect()) == 30


def test_ivf_index_sink_fresh_checkpoint_applies_batches(spark, emb, tmp_path):
    """ADVICE r8 (medium): micro-batch ids restart at 0 with a fresh
    checkpoint, so the ledger key must be namespaced per checkpoint — a
    SECOND stream (new checkpoint, new landing) against an EXISTING store
    must fold its batches in, not silently skip them as 'replays' of the
    first stream's batch 0."""
    from airflow_dags_spark.streaming.pipeline import ivf_index_sink

    store_path = str(tmp_path / "ivf")

    def run(landing, ck):
        q = ivf_index_sink(
            spark.readStream.schema(
                "vec_id long, embedding array<float>, label int"
            ).parquet(str(landing)),
            store_path,
            str(tmp_path / ck),
            n_cells=4,
            fit_sample=60,
        )
        q.awaitTermination(120)

    l1 = tmp_path / "landing1"
    l1.mkdir()
    emb.where(F.col("vec_id") < 60).write.parquet(str(l1 / "b1"))
    run(l1 / "*", "ck1")
    store = IvfIndexStore(spark, store_path)
    assert sum(r["n_members"] for r in store.state().collect()) == 60

    # fresh checkpoint + fresh landing: its batch 0 must APPLY
    l2 = tmp_path / "landing2"
    l2.mkdir()
    emb.where((F.col("vec_id") >= 60) & (F.col("vec_id") < 100)).write.parquet(
        str(l2 / "b1")
    )
    run(l2 / "*", "ck2")
    assert sum(r["n_members"] for r in store.state().collect()) == 100
    # replay of checkpoint 2 (no new files) still no-ops
    run(l2 / "*", "ck2")
    assert sum(r["n_members"] for r in store.state().collect()) == 100


def test_centroids_empty_cell_is_zero_vector_not_null(spark, emb, tmp_path):
    """ADVICE r8 (low): an empty cell's centroid must be the ZERO vector in
    BOTH accessors — the SQL accessor used to emit NULL components
    (vec_sum / 0.0) while the assignment path returned zeros."""
    store = IvfIndexStore(spark, str(tmp_path / "ivf"))
    store.init_from(emb.where(F.col("vec_id") < 40), n_cells=4, fit_sample=40)
    # force an empty cell deterministically: commit a next version with
    # cell 3 zeroed out (the store's own _commit seam)
    rows = sorted(
        ((r["cell"], list(r["vec_sum"]), int(r["n_members"]))
         for r in store.state().collect()),
    )
    dim = len(rows[0][1])
    forced = [
        (c, [0.0] * dim, 0) if c == 3 else (c, s, n) for c, s, n in rows
    ]
    store._commit("forced", store.current_version() + 1, forced, refit=False)

    frame = {r["cell"]: list(r["centroid"]) for r in store.centroids().collect()}
    assert frame[3] == [0.0] * dim  # zero vector, no NULL components
    assert all(x is not None for x in frame[3])
    mat = store.centroids_matrix()
    np.testing.assert_allclose(np.asarray(frame[3]), mat[3])
    # non-empty cells unaffected
    np.testing.assert_allclose(np.asarray(frame[0]), mat[0], rtol=1e-9)


# --- PqCodebookStore: PQ analog of the IVF maintenance store ------------------


def _pq_numpy_stats(vectors: np.ndarray, books: np.ndarray):
    """Reference: encode unit vectors per subspace (argmin squared
    distance), return per (subspace, code) (sum of unit sub-vectors,
    count)."""
    m, n_codes, sub = books.shape
    xn = vectors / np.linalg.norm(vectors, axis=1, keepdims=True)
    sums = np.zeros((m, n_codes, sub))
    counts = np.zeros((m, n_codes), dtype=int)
    for j in range(m):
        xs = xn[:, j * sub : (j + 1) * sub]
        d = ((xs[:, None, :] - books[j][None, :, :]) ** 2).sum(axis=2)
        assign = np.argmin(d, axis=1)
        for c in range(n_codes):
            members = xs[assign == c]
            counts[j, c] = len(members)
            if len(members):
                sums[j, c] = members.sum(axis=0)
    return sums, counts


def test_pq_add_batch_matches_numpy_reference(spark, emb, tmp_path):
    from airflow_dags_spark.operators.ann_store import PqCodebookStore

    store = PqCodebookStore(spark, str(tmp_path / "pq"))
    init = emb.where(F.col("vec_id") < 60)
    batch = emb.where((F.col("vec_id") >= 60) & (F.col("vec_id") < 140))
    store.init_from(init, m=4, n_codes=8, fit_sample=60, seed=7)

    books0 = store.codebooks()
    state0 = {
        (r["subspace"], r["code"]): (np.array(r["vec_sum"]), r["n_members"])
        for r in store.state().collect()
    }
    out = store.add_batch(batch, "b1")
    assert out["applied"] and out["version"] == 1

    X = np.array(
        [r["embedding"] for r in batch.orderBy("vec_id").collect()],
        dtype=np.float64,
    )
    d_sums, d_counts = _pq_numpy_stats(X, books0)
    assert out["n_assigned"] == len(X)
    for r in store.state().collect():
        j, c = r["subspace"], r["code"]
        exp_sum = state0[(j, c)][0] + d_sums[j, c]
        exp_n = state0[(j, c)][1] + int(d_counts[j, c])
        assert r["n_members"] == exp_n, (j, c)
        np.testing.assert_allclose(np.array(r["vec_sum"]), exp_sum, rtol=1e-9)


def test_pq_drift_policy_refit_only_past_threshold(spark, emb, tmp_path):
    """Below threshold maybe_refit is a no-op; past it the codebooks are
    re-trained from the reservoir as a new REFIT version (ledger-flagged),
    drift_since_fit resets, and a replayed refit batch id no-ops."""
    from airflow_dags_spark.operators.ann_store import PqCodebookStore

    store = PqCodebookStore(spark, str(tmp_path / "pq"))
    # sample_hex 'g': every md5 first hex char < 'g' -> reservoir = all keys
    store.init_from(
        emb.where(F.col("vec_id") < 40), m=4, n_codes=8, fit_sample=40,
        sample_hex="g",
    )
    assert store.drift_since_fit() == 0.0  # v0 IS the fit
    out = store.add_batch(
        emb.where((F.col("vec_id") >= 40) & (F.col("vec_id") < 120)),
        "b1",
        sample_hex="g",
    )
    drift = store.drift_since_fit()
    assert drift > 0.0 and abs(drift - out["mean_code_shift"]) < 1e-9

    high = store.maybe_refit("refit-1", drift_threshold=drift + 1.0)
    assert not high["applied"] and not high.get("refit", False)

    low = store.maybe_refit("refit-2", drift_threshold=drift / 2)
    assert low["applied"] and low["refit"]
    assert store.last_fit_version() == low["version"]
    assert store.drift_since_fit() == 0.0  # freshly re-trained
    # reservoir-seeded stats: members = reservoir rows (all 120 keys here)
    assert (
        store.state().where(F.col("subspace") == 0)
        .agg(F.sum("n_members")).collect()[0][0] == 120
    )
    # replayed refit never trains twice
    again = store.maybe_refit("refit-2", drift_threshold=0.0)
    assert not again["applied"]


def test_pq_empty_code_center_is_zero_vector(spark, emb, tmp_path):
    from airflow_dags_spark.operators.ann_store import PqCodebookStore

    store = PqCodebookStore(spark, str(tmp_path / "pq"))
    store.init_from(emb.where(F.col("vec_id") < 30), m=4, n_codes=16, fit_sample=30)
    # force an empty code deterministically (the store's own _commit
    # seam): commit a next version with (subspace 0, code 0) zeroed out
    sub = len(store.state().collect()[0]["vec_sum"])
    forced = [
        (r["subspace"], r["code"], [0.0] * sub, 0)
        if (r["subspace"], r["code"]) == (0, 0)
        else (r["subspace"], r["code"], list(r["vec_sum"]), int(r["n_members"]))
        for r in store.state().collect()
    ]
    store._commit("forced", store.current_version() + 1, forced, refit=False)
    books = store.codebooks()
    np.testing.assert_array_equal(books[0, 0], 0.0)
    # non-empty codes untouched
    nonzero = [(j, c) for j, c, _s, n in forced if n > 0]
    assert any(np.linalg.norm(books[j, c]) > 0 for j, c in nonzero)


def test_pq_codebook_sink_streaming_maintenance(spark, emb, tmp_path):
    """Streaming end-to-end for the PQ sink: batch 1 bootstraps
    (codebook fit + seed statistics), batch 2 folds against the batch-1
    books, a no-new-files re-run advances nothing, and a FRESH checkpoint
    against the existing store still applies (namespaced ledger)."""
    from airflow_dags_spark.operators.ann_store import PqCodebookStore
    from airflow_dags_spark.streaming.pipeline import pq_codebook_sink

    store_path = str(tmp_path / "pq")

    def run(landing, ck):
        q = pq_codebook_sink(
            spark.readStream.schema(
                "vec_id long, embedding array<float>, label int"
            ).parquet(str(landing)),
            store_path,
            str(tmp_path / ck),
            m=4,
            n_codes=8,
            fit_sample=60,
        )
        q.awaitTermination(120)

    l1 = tmp_path / "landing1"
    l1.mkdir()
    emb.where(F.col("vec_id") < 60).write.parquet(str(l1 / "b1"))
    run(l1 / "*", "ck1")
    store = PqCodebookStore(spark, store_path)
    assert store.current_version() == 0

    def members():
        return (
            store.state().where(F.col("subspace") == 0)
            .agg(F.sum("n_members")).collect()[0][0]
        )

    assert members() == 60
    emb.where((F.col("vec_id") >= 60) & (F.col("vec_id") < 110)).write.parquet(
        str(l1 / "b2")
    )
    run(l1 / "*", "ck1")
    assert store.current_version() >= 1 and members() == 110
    run(l1 / "*", "ck1")  # no new files
    assert members() == 110

    # fresh checkpoint + fresh landing: batch 0 must APPLY, not no-op
    l2 = tmp_path / "landing2"
    l2.mkdir()
    emb.where((F.col("vec_id") >= 110) & (F.col("vec_id") < 150)).write.parquet(
        str(l2 / "b1")
    )
    run(l2 / "*", "ck2")
    assert members() == 150


def test_pq_codebook_sink_drift_triggered_refit(spark, emb, tmp_path):
    """With refit_drift_threshold=0.0 any positive drift after a fold
    triggers the reservoir re-train in the SAME batch: the ledger gains a
    refit-flagged version and drift_since_fit resets to 0."""
    from airflow_dags_spark.operators.ann_store import PqCodebookStore
    from airflow_dags_spark.streaming.pipeline import pq_codebook_sink

    landing = tmp_path / "landing"
    landing.mkdir()
    emb.where(F.col("vec_id") < 60).write.parquet(str(landing / "b1"))

    def run():
        q = pq_codebook_sink(
            spark.readStream.schema(
                "vec_id long, embedding array<float>, label int"
            ).parquet(str(landing / "*")),
            str(tmp_path / "pq"),
            str(tmp_path / "ck"),
            m=4,
            n_codes=8,
            fit_sample=60,
            sample_hex="g",  # reservoir = every key (deterministic)
            refit_drift_threshold=0.0,
        )
        q.awaitTermination(120)

    run()
    store = PqCodebookStore(spark, str(tmp_path / "pq"))
    assert store.last_fit_version() == 0  # init IS a fit; no drift yet

    emb.where((F.col("vec_id") >= 60) & (F.col("vec_id") < 120)).write.parquet(
        str(landing / "b2")
    )
    run()
    # fold (one version) + refit (next version), refit is the fit pointer
    assert store.current_version() == 2
    assert store.last_fit_version() == 2
    assert store.drift_since_fit() == 0.0
    run()  # no new files: nothing moves
    assert store.current_version() == 2


def test_pq_maybe_refit_empty_reservoir_is_diagnosed_noop(spark, emb, tmp_path):
    """A reservoir that never sampled a key (sample_hex='0' admits
    nothing) must make an armed refit a DIAGNOSED no-op, not an opaque
    numpy crash killing a streaming batch mid-fold."""
    from airflow_dags_spark.operators.ann_store import PqCodebookStore

    store = PqCodebookStore(spark, str(tmp_path / "pq"))
    store.init_from(
        emb.where(F.col("vec_id") < 40), m=4, n_codes=8, fit_sample=40,
        sample_hex="0",
    )
    store.add_batch(
        emb.where((F.col("vec_id") >= 40) & (F.col("vec_id") < 100)),
        "b1",
        sample_hex="0",
    )
    out = store.maybe_refit("refit-1", drift_threshold=0.0)
    assert not out["applied"] and out.get("reason") == "empty_reservoir"
    assert out["drift"] > 0.0
    assert store.last_fit_version() == 0  # nothing trained


def test_ledger_namespace_canonicalizes_path_spelling():
    """ADVICE r9 (low): the namespace must not depend on how the SAME
    checkpoint dir is spelled — relative vs absolute vs file: URI vs
    trailing slash — or a restart re-folds committed batches."""
    import os

    from airflow_dags_spark.streaming.pipeline import _ledger_namespace

    ns = _ledger_namespace("/a/b/ck")
    assert _ledger_namespace("/a/b/ck/") == ns
    assert _ledger_namespace("file:///a/b/ck") == ns
    assert _ledger_namespace("file:/a/b/ck") == ns
    rel = os.path.relpath("/a/b/ck")
    assert _ledger_namespace(rel) == ns
    # remote schemes have no local canonical form: spelled-as-given
    # (minus trailing slash), and distinct from the local form
    assert _ledger_namespace("s3a://bkt/ck/") == _ledger_namespace("s3a://bkt/ck")
    assert _ledger_namespace("s3a://bkt/ck") != ns


# --- store-backed ANN serving (VERDICT r9 #1): the maintained artifacts -------
# feed the query path; no per-call re-fit, no corpus re-sample


def _topk_map(df):
    out = {}
    for r in df.collect():
        out.setdefault(r["qid"], []).append(r["cid"])
    return out


def test_ivf_store_backed_serving_fit_free_and_exact_at_full_probe(
    spark, emb, tmp_path, monkeypatch
):
    """ivf_ann_topk(centers=store.centroids_matrix()) serves the
    MAINTAINED quantizer: no fit call, no corpus sample, and probing all
    cells degenerates to brute force exactly (the store's centroids
    partition the corpus; full probe erases the partition)."""
    from airflow_dags_spark.operators import similarity
    from airflow_dags_spark.operators.similarity import (
        brute_force_topk,
        ivf_ann_topk,
    )

    store = IvfIndexStore(spark, str(tmp_path / "ivf"))
    store.init_from(emb, n_cells=4, fit_sample=100)
    centers = store.centroids_matrix()

    def boom(*a, **k):
        raise AssertionError("store-backed search must not re-fit")

    monkeypatch.setattr(similarity, "_fit_coarse_quantizer", boom)
    qf = F.col("vec_id") < 3
    exact = _topk_map(brute_force_topk(emb, 5, query_filter=qf))
    # n_cells comes from the matrix; an over-large nprobe clamps to it
    got = _topk_map(
        ivf_ann_topk(emb, 5, query_filter=qf, nprobe=99, centers=centers)
    )
    assert got == exact


def test_pq_store_backed_serving_fit_free_recall_and_determinism(
    spark, emb, tmp_path, monkeypatch
):
    """pq_ann_topk(books=store.codebooks()) encodes and ADC-scores against
    the MAINTAINED codebooks: no fit call, recall within the fresh-fit
    bound (tests/test_approx_ops.py), and byte-identical results across
    calls against the same store version."""
    from airflow_dags_spark.operators import similarity
    from airflow_dags_spark.operators.ann_store import PqCodebookStore
    from airflow_dags_spark.operators.similarity import (
        brute_force_topk,
        pq_ann_topk,
    )

    store = PqCodebookStore(spark, str(tmp_path / "pq"))
    store.init_from(emb, m=8, n_codes=32, fit_sample=200)
    books = store.codebooks()

    def boom(*a, **k):
        raise AssertionError("store-backed search must not re-fit")

    monkeypatch.setattr(similarity, "_fit_pq_codebooks", boom)
    qf = F.col("vec_id") < 5
    exact = _topk_map(brute_force_topk(emb, 10, query_filter=qf))
    run1 = pq_ann_topk(emb, 10, query_filter=qf, refine=50, books=books).collect()
    approx = {}
    for r in run1:
        approx.setdefault(r["qid"], []).append(r["cid"])
    recalls = [
        len(set(exact[q]) & set(approx.get(q, []))) / len(exact[q]) for q in exact
    ]
    assert len(recalls) == 5
    assert sum(recalls) / len(recalls) >= 0.6
    run2 = pq_ann_topk(emb, 10, query_filter=qf, refine=50, books=books).collect()
    assert sorted(map(tuple, run1)) == sorted(map(tuple, run2))


def test_pq_store_backed_rejects_malformed_books(spark, emb, tmp_path):
    from airflow_dags_spark.operators.similarity import ivf_ann_topk, pq_ann_topk

    with pytest.raises(ValueError, match="m, n_codes"):
        pq_ann_topk(emb, 5, books=np.zeros((4, 8)))
    with pytest.raises(ValueError, match="n_cells, dim"):
        ivf_ann_topk(emb, 5, centers=np.zeros((4, 8, 2)))


# --- IVF drift policy (VERDICT r9 #2: backported from PqCodebookStore) --------


def test_ivf_drift_policy_refit_only_past_threshold(spark, emb, tmp_path):
    """Below threshold maybe_refit is a no-op; past it the coarse
    quantizer is re-trained from the reservoir as a new REFIT version
    (ledger-flagged), drift_since_fit resets, and a replayed refit batch
    id no-ops."""
    store = IvfIndexStore(spark, str(tmp_path / "ivf"))
    # sample_hex 'g': every md5 first hex char < 'g' -> reservoir = all keys
    store.init_from(
        emb.where(F.col("vec_id") < 40), n_cells=4, fit_sample=40,
        sample_hex="g",
    )
    assert store.drift_since_fit() == 0.0  # v0 IS the fit
    out = store.add_batch(
        emb.where((F.col("vec_id") >= 40) & (F.col("vec_id") < 120)),
        "b1",
        sample_hex="g",
    )
    drift = store.drift_since_fit()
    assert drift > 0.0 and abs(drift - out["mean_centroid_shift"]) < 1e-9

    high = store.maybe_refit("refit-1", drift_threshold=drift + 1.0)
    assert not high["applied"] and not high.get("refit", False)

    low = store.maybe_refit("refit-2", drift_threshold=drift / 2)
    assert low["applied"] and low["refit"]
    assert store.last_fit_version() == low["version"]
    assert store.drift_since_fit() == 0.0  # freshly re-trained
    # reservoir-seeded stats: members = reservoir rows (all 120 keys here)
    assert sum(r["n_members"] for r in store.state().collect()) == 120
    # replayed refit never trains twice
    again = store.maybe_refit("refit-2", drift_threshold=0.0)
    assert not again["applied"]


def test_ivf_maybe_refit_empty_reservoir_is_diagnosed_noop(spark, emb, tmp_path):
    store = IvfIndexStore(spark, str(tmp_path / "ivf"))
    store.init_from(
        emb.where(F.col("vec_id") < 40), n_cells=4, fit_sample=40,
        sample_hex="0",
    )
    store.add_batch(
        emb.where((F.col("vec_id") >= 40) & (F.col("vec_id") < 100)),
        "b1",
        sample_hex="0",
    )
    out = store.maybe_refit("refit-1", drift_threshold=0.0)
    assert not out["applied"] and out.get("reason") == "empty_reservoir"
    assert out["drift"] > 0.0
    assert store.last_fit_version() == 0  # nothing trained


def test_ivf_index_sink_drift_triggered_refit(spark, emb, tmp_path):
    """With refit_drift_threshold=0.0 any positive drift after a fold
    triggers the reservoir re-train in the SAME batch (mirrors
    pq_codebook_sink)."""
    from airflow_dags_spark.streaming.pipeline import ivf_index_sink

    landing = tmp_path / "landing"
    landing.mkdir()
    emb.where(F.col("vec_id") < 60).write.parquet(str(landing / "b1"))

    def run():
        q = ivf_index_sink(
            spark.readStream.schema(
                "vec_id long, embedding array<float>, label int"
            ).parquet(str(landing / "*")),
            str(tmp_path / "ivf"),
            str(tmp_path / "ck"),
            n_cells=4,
            fit_sample=60,
            sample_hex="g",  # reservoir = every key (deterministic)
            refit_drift_threshold=0.0,
        )
        q.awaitTermination(120)

    run()
    store = IvfIndexStore(spark, str(tmp_path / "ivf"))
    assert store.last_fit_version() == 0  # init IS a fit; no drift yet

    emb.where((F.col("vec_id") >= 60) & (F.col("vec_id") < 120)).write.parquet(
        str(landing / "b2")
    )
    run()
    # fold (one version) + refit (next version), refit is the fit pointer
    assert store.current_version() == 2
    assert store.last_fit_version() == 2
    assert store.drift_since_fit() == 0.0
    run()  # no new files: nothing moves
    assert store.current_version() == 2


def test_served_matches_compares_sims_at_6dp(spark):
    """The store-vs-direct equivalence rounds ``sim`` to 6 dp on both
    arms: a last-bits float difference still matches, while a top-k that
    swaps which cell carries which sim does not."""
    from airflow_dags_spark.plans.round13 import _served_matches

    qids = spark.createDataFrame([(0,), (1,)], "vec_id bigint")
    schema = "qid bigint, cid int, sim double"
    store = spark.createDataFrame(
        [(0, 1, 0.9), (0, 2, 0.8), (1, 3, 0.7), (1, 4, 0.6)], schema
    )
    direct = spark.createDataFrame(
        [(0, 1, 0.9 + 1e-12), (0, 2, 0.8), (1, 4, 0.7), (1, 3, 0.6)], schema
    )
    got = {r.qid: r.matches for r in _served_matches(qids, store, direct).collect()}
    assert got == {0: True, 1: False}
