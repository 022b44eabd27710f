"""Round-13 registry additions — the surfaces the r9 verdict ranked
(§Next-round #1 and #5):

- **curate_funnel_counts** — the end-to-end curation FUNNEL itself under
  the driver's hash check: per-stage (rows_in, rows_out, dropped) counts
  for quality gate → exact dedup → near dedup over ``documents``,
  DuckDB-expressible stage by stage. It calls the stage functions
  ``jobs/curate_full.curate_full`` runs (``quality_gate``,
  ``exact_dedup``, ``near_dup_losers``), so the oracle checks the job's
  own code; only the counting differs (declarative counts here,
  single-pass Observations over DISK_ONLY stage caches there).
- **sim_pq_store_topk** / **sim_ivf_store_topk** — store-BACKED ANN
  serving (oracle-checked since r11 via the store-vs-direct equivalence
  projection — r10 verdict #1): maintain an index through the persistent
  store (init + one incremental batch), serve with
  ``pq_ann_topk(books=store.codebooks())`` /
  ``ivf_ann_topk(centers=store.centroids_matrix())`` — the integration
  seam the r9 verdict ranked #1: the maintained artifacts feed the query
  path with NO per-call re-fit and no corpus re-sample — and emit per
  query whether the served top-k equals a direct in-memory recompute of
  the same maintenance math (the seeded Lloyd fit itself is not
  SQL-expressible, so the hash-checkable output is the equivalence, not
  the raw top-k). tests/test_ann_store.py still pins fit-free serving
  with a poisoned fit function, recall, and store-version determinism.

Scale notes (100 TB): the funnel query's stages are the proven operator
shapes (codegen scan gates, one md5 shuffle, banded candidate join —
never all-pairs); its stage-count branches re-execute upstream lineage,
which is exactly what jobs/curate_full's persisted form avoids — the
docstring points users there. The store-backed ANN queries read k×dim /
m×n_codes×dim artifacts driver-side (bounded) and run the encode/probe
passes shuffle-free; the only exchange is the per-query top-k window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from airflow_dags_spark.plans.registry import register
from airflow_dags_spark.sources.tables import read_table

# Canonical normalized-text fragment (lockstep with functions.text.normalized)
_NORM = "LOWER(REGEXP_REPLACE(TRIM(text), '\\s+', ' ', 'g'))"
_TOKS = f"string_split({_NORM}, ' ')"
# 3-token shingle list over normalized tokens (functions.text.word_shingles)
_SHINGLES = f"""
list_distinct(
  list_transform(
    generate_series(1, GREATEST(len({_TOKS}) - 2, 0)),
    i -> {_TOKS}[i] || ' ' || {_TOKS}[i+1] || ' ' || {_TOKS}[i+2]
  )
)
"""


def _scratch_store(name: str) -> str:
    """Per-query scratch path for the store-backed drives, WIPED and
    rebuilt on every invocation — a fresh mkdtemp per call would leak one
    parquet store per bench/oracle/explain run onto the driver host. The
    wipe also guarantees each drive exercises the full init-then-fold
    path instead of silently no-opping on a previous run's ledger."""
    import os
    import shutil
    import tempfile

    d = os.path.join(tempfile.gettempdir(), f"spark_graft_store_{name}")
    shutil.rmtree(d, ignore_errors=True)
    return os.path.join(d, "s")


# --------------------------------------------------------------------------
# curate_funnel_counts — the curation funnel under the driver's hash check
# --------------------------------------------------------------------------

_GATE_SQL = f"""
  (list_contains({_TOKS}, 'the') OR list_contains({_TOKS}, 'and')
     OR list_contains({_TOKS}, 'of'))
  AND ROUND(CASE WHEN len({_TOKS}) > 0
        THEN CAST(len(list_filter({_TOKS},
             t -> list_contains(['the','a','of','and','to','in','is','it'], t))) AS DOUBLE)
             / len({_TOKS})
        ELSE 0.0 END, 6) <= 0.9
  AND ROUND(CASE WHEN LENGTH(text) > 0
        THEN CAST(LENGTH(REGEXP_REPLACE(text, '[^.,;:!?]', '', 'g')) AS DOUBLE)
             / LENGTH(text)
        ELSE 0.0 END, 6) <= 0.3
  AND len({_TOKS}) >= 10
"""

CURATE_FUNNEL_ORACLE = f"""
WITH g AS MATERIALIZED (
  SELECT doc_id, text FROM documents WHERE {_GATE_SQL}
),
h AS MATERIALIZED (SELECT doc_id, md5({_NORM}) AS ch, text FROM g),
surv AS MATERIALIZED (SELECT ch, MIN(doc_id) AS doc_id FROM h GROUP BY ch),
ex AS MATERIALIZED (
  SELECT h.doc_id, h.text FROM h JOIN surv ON surv.doc_id = h.doc_id
),
sh AS MATERIALIZED (SELECT doc_id, {_SHINGLES} AS s FROM ex),
bands AS MATERIALIZED (
  SELECT doc_id,
    CASE WHEN len(s) > 0 THEN list_min(list_transform(s, x -> md5('b0:' || x))) END AS band_0,
    CASE WHEN len(s) > 0 THEN list_min(list_transform(s, x -> md5('b1:' || x))) END AS band_1,
    CASE WHEN len(s) > 0 THEN list_min(list_transform(s, x -> md5('b2:' || x))) END AS band_2,
    CASE WHEN len(s) > 0 THEN list_min(list_transform(s, x -> md5('b3:' || x))) END AS band_3
  FROM sh
),
stacked AS MATERIALIZED (
  SELECT doc_id, 0 AS band_idx, band_0 AS band_val FROM bands
  UNION ALL SELECT doc_id, 1, band_1 FROM bands
  UNION ALL SELECT doc_id, 2, band_2 FROM bands
  UNION ALL SELECT doc_id, 3, band_3 FROM bands
),
reps AS (
  -- bucket representatives: the 8 smallest keys per (band_idx, band_val)
  -- — the left side of the candidate join (bucket_cap=8; bounds the
  -- per-bucket pair count to cap×width instead of width²)
  SELECT doc_id, band_idx, band_val FROM (
    SELECT doc_id, band_idx, band_val,
           ROW_NUMBER() OVER (PARTITION BY band_idx, band_val
                              ORDER BY doc_id) AS rn
    FROM stacked
  ) WHERE rn <= 8
),
pairs AS MATERIALIZED (
  SELECT DISTINCT a.doc_id AS key_a, b.doc_id AS key_b
  FROM reps a JOIN stacked b
    ON a.band_idx = b.band_idx AND a.band_val = b.band_val
   AND a.doc_id < b.doc_id
),
verified AS (
  SELECT p.key_a, p.key_b
  FROM pairs p JOIN sh a ON a.doc_id = p.key_a JOIN sh b ON b.doc_id = p.key_b
  WHERE ROUND(
    CASE WHEN len(list_distinct(list_concat(a.s, b.s))) > 0
         THEN CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
              / len(list_distinct(list_concat(a.s, b.s)))
         ELSE 0.0 END, 6) >= 0.8
),
losers AS (SELECT DISTINCT GREATEST(key_a, key_b) AS doc_id FROM verified),
c AS (
  SELECT (SELECT COUNT(*) FROM documents) AS n_docs,
         (SELECT COUNT(*) FROM g) AS n_gated,
         (SELECT COUNT(*) FROM surv) AS n_exact,
         (SELECT COUNT(*) FROM losers) AS n_losers
)
SELECT stage, CAST(rows_in AS BIGINT) AS rows_in,
       CAST(rows_out AS BIGINT) AS rows_out,
       CAST(rows_in - rows_out AS BIGINT) AS dropped
FROM (
  SELECT 'quality_gate' AS stage, n_docs AS rows_in, n_gated AS rows_out FROM c
  UNION ALL SELECT 'exact_dedup', n_gated, n_exact FROM c
  UNION ALL SELECT 'near_dedup', n_exact, n_exact - n_losers FROM c
)
"""


@register("curate_funnel_counts", CURATE_FUNNEL_ORACLE)
def curate_funnel_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation-pipeline funnel at jobs/curate_full's defaults (≥10
    tokens, Jaccard ≥ 0.8) as per-stage boundary counts: quality gate →
    exact dedup (min-key survivor count = distinct content hashes) → near
    dedup (capped band candidates, exact-Jaccard verify, greatest-key
    losers). Each stage is the function the job calls, so the pipeline's
    shape itself sits under the driver's hash check.

    Scale shape: the gate is a codegen scan filter; exact dedup is ONE
    map-side-combined hash aggregation, with the survivors' text taken
    back by a key semi-join; the near tier is the banded candidate
    equi-join + verify on candidates only, with the bucket cap bounding
    the per-bucket pair count to cap×width. The four boundary counts are
    single-row aggregates crossJoin-stacked into stage rows — driver-side
    never sees more than the 3-row funnel. Each count re-executes its
    upstream lineage, which jobs/curate_full's persisted stage caches
    avoid."""
    from airflow_dags_spark.functions.text import quality_gate
    from airflow_dags_spark.operators.dedup import exact_dedup, near_dup_losers

    d = read_table(spark, sf_dir, "documents")
    gated = quality_gate(d, "text", 10).select("doc_id", "text")
    surv_ids = exact_dedup(gated, "text", "doc_id").select("doc_id")
    exact = gated.join(surv_ids, "doc_id", "left_semi")
    losers = near_dup_losers(exact, "text", "doc_id", 0.8)
    cnt = lambda df, name: df.agg(  # noqa: E731
        F.count(F.lit(1)).cast("bigint").alias(name)
    )
    row = (
        cnt(d, "n_docs")
        .crossJoin(cnt(gated, "n_gated"))
        .crossJoin(cnt(surv_ids, "n_exact"))
        .crossJoin(cnt(losers, "n_losers"))
    )
    return row.selectExpr(
        "stack(3,"
        " 'quality_gate', n_docs, n_gated,"
        " 'exact_dedup', n_gated, n_exact,"
        " 'near_dedup', n_exact, n_exact - n_losers"
        ") AS (stage, rows_in, rows_out)"
    ).select(
        "stage",
        F.col("rows_in").cast("bigint").alias("rows_in"),
        F.col("rows_out").cast("bigint").alias("rows_out"),
        (F.col("rows_in") - F.col("rows_out")).cast("bigint").alias("dropped"),
    )


# --------------------------------------------------------------------------
# store-backed ANN serving (rows-only: seeded sampled-fit internals)
# --------------------------------------------------------------------------


def _store_halves(emb: DataFrame):
    """Deterministic init/increment split: even vec_ids seed the store,
    odd ones arrive as the incremental batch."""
    return (
        emb.where(F.col("vec_id") % 2 == 0),
        emb.where(F.col("vec_id") % 2 == 1),
    )


def _served_matches(emb: DataFrame, store_topk: DataFrame, direct_topk: DataFrame) -> DataFrame:
    """Per-query equality of two served top-k lists — the oracle-checkable
    projection of store-vs-direct equivalence (r10 verdict #1): one row
    per query id with ``matches`` = the full ordered (cid, sim) result
    sets agree, with ``sim`` rounded to 6 dp on both arms (the registry's
    float rule: two arms that sum the same floats in a different order
    may differ in the last bits). Query ids come from the INPUT (vec_id <
    8 with a non-null embedding — DuckDB-derivable); a query whose probed
    cells are empty serves an empty list on both arms and still matches."""
    key = F.sort_array(
        F.collect_list(F.struct(F.col("cid"), F.round("sim", 6).alias("sim")))
    )
    a = store_topk.groupBy("qid").agg(key.alias("__a"))
    b = direct_topk.groupBy("qid").agg(key.alias("__b"))
    qids = emb.where(F.col("vec_id") < 8).select(F.col("vec_id").alias("qid"))
    return (
        qids.join(a, "qid", "left")
        .join(b, "qid", "left")
        .select("qid", F.col("__a").eqNullSafe(F.col("__b")).alias("matches"))
        .orderBy("qid")
    )


# The expected output of a CORRECT store: every input query id serves, and
# the maintained artifacts reproduce the direct in-memory fold exactly.
# The query-id set and the all-true expectation are both derivable from the
# parquet inputs; the engine side COMPUTES matches (double-serving + exact
# struct-list comparison), it never asserts it.
STORE_EQUIV_ORACLE = """
SELECT vec_id AS qid, TRUE AS matches
FROM embeddings
WHERE vec_id < 8 AND embedding IS NOT NULL
ORDER BY qid
"""


@register("sim_pq_store_topk", STORE_EQUIV_ORACLE)
def sim_pq_store_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Store-backed PQ serving end-to-end, under the driver's hash check
    (r10 verdict #1 — was rows-only): build a PqCodebookStore (init on the
    even half, fold the odd half as an incremental batch — one re-centered
    version), serve ``pq_ann_topk(books=store.codebooks())`` (no per-call
    fit, no corpus re-sample; exact re-rank of the top-50 PQ candidates),
    and emit per query whether the served top-k is IDENTICAL to the top-k
    from a DIRECT recompute of the same maintenance math (same seeded fit,
    same per-(subspace, code) fold — ``pq_batch_stats`` — held in memory,
    never persisted). The equality certifies the PERSISTENCE layer:
    versioned state, ledger arithmetic, parquet round-trip and replay
    return bit-identical artifacts to the in-memory fold. The seeded Lloyd
    fit itself stays SQL-inexpressible — that is exactly why the checkable
    projection is the equivalence, not the raw top-k (the verdict's
    option B); recall/determinism bounds stay in tests/test_ann_store.py.

    Float envelope: both arms fold the same partial aggregates over the
    same scan partitioning, so equality is exact at the driver's SFs
    (single-split inputs); at multi-split scale the arms agree to
    float-accumulation order, the documented kmeans envelope.

    Scale shape: state is m×n_codes×(dim/m) sufficient-stat rows; each
    serving scan touches code bytes only; the only shuffles are the two
    per-query top-k windows and the 8-row comparison join."""
    from airflow_dags_spark.operators.ann_store import (
        PqCodebookStore,
        pq_batch_stats,
    )
    from airflow_dags_spark.operators.similarity import (
        _fit_pq_codebooks,
        pq_ann_topk,
    )

    emb = read_table(spark, sf_dir, "embeddings").where(
        F.col("embedding").isNotNull()
    )
    init, incr = _store_halves(emb)
    store = PqCodebookStore(
        spark, _scratch_store("pq")
    )
    store.init_from(init, m=8, n_codes=32, fit_sample=2000)
    store.add_batch(incr, "incr-1")

    # direct arm: the identical maintenance math with NO store — fit on
    # the init half, fold init stats, encode the increment against the
    # re-centered books, fold again (the add_batch merge rule verbatim)
    b_fit = _fit_pq_codebooks(init, "embedding", 8, 32, 2000, 10, 42)
    s0 = pq_batch_stats(init, b_fit)
    books0 = store._books_from(
        [
            {"subspace": j, "code": c, "vec_sum": s, "n_members": n}
            for j, c, s, n in s0
        ]
    )
    s1 = pq_batch_stats(incr, books0)
    merged = []
    for (j, c, osum, on), (_, _, dsum, dn) in zip(s0, s1):
        if dn == 0:
            merged.append(
                {"subspace": j, "code": c, "vec_sum": osum, "n_members": on}
            )
        else:
            merged.append(
                {
                    "subspace": j,
                    "code": c,
                    "vec_sum": [x + y for x, y in zip(osum, dsum)],
                    "n_members": on + dn,
                }
            )
    direct_books = store._books_from(merged)

    serve = lambda books: pq_ann_topk(  # noqa: E731
        emb, 10, query_filter=F.col("vec_id") < 8, refine=50, books=books
    )
    # a FRESH instance serves the store arm: the writer's in-memory state
    # cache cannot answer, so the parquet round-trip is what gets checked
    fresh = PqCodebookStore(spark, store.path)
    return _served_matches(emb, serve(fresh.codebooks()), serve(direct_books))


@register("sim_ivf_store_topk", STORE_EQUIV_ORACLE)
def sim_ivf_store_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Store-backed IVF serving end-to-end, under the driver's hash check
    (r10 verdict #1 — was rows-only): build an IvfIndexStore (init on the
    even half, fold the odd half — the centroids re-center), serve
    ``ivf_ann_topk(centers=store.centroids_matrix())`` with nprobe=4 of 16
    (the ANN regime, not the degenerate full probe; no per-call fit), and
    emit per query whether the served top-k is IDENTICAL to the top-k from
    a DIRECT recompute of the same maintenance math (same seeded fit, same
    per-cell fold — ``ivf_batch_stats`` — held in memory, never
    persisted). See ``sim_pq_store_topk`` for what the equality certifies
    (persistence layer) and the float envelope; the seeded fit stays
    SQL-inexpressible, which is why the checkable projection is the
    equivalence (verdict option B). Recall and the exactness of the
    full-probe degenerate case live in tests/test_ann_store.py.

    Scale shape: the centroid matrices are k×dim driver-side, assignment
    is one Arrow matmul pass, probed-cell search touches nprobe/n_cells of
    the corpus per arm; the only shuffles are the two per-query top-k
    windows and the 8-row comparison join."""
    from airflow_dags_spark.operators.ann_store import (
        IvfIndexStore,
        ivf_batch_stats,
    )
    from airflow_dags_spark.operators.similarity import (
        _fit_coarse_quantizer,
        ivf_ann_topk,
    )

    emb = read_table(spark, sf_dir, "embeddings").where(
        F.col("embedding").isNotNull()
    )
    init, incr = _store_halves(emb)
    store = IvfIndexStore(
        spark, _scratch_store("ivf")
    )
    store.init_from(init, n_cells=16, fit_sample=2000)
    store.add_batch(incr, "incr-1")

    # direct arm: identical maintenance math, no persistence
    c_fit = _fit_coarse_quantizer(init, "embedding", 16, 2000, 10, 42)
    s0 = ivf_batch_stats(init, c_fit, 16)
    centers0 = IvfIndexStore._centers_from(
        [{"cell": c, "vec_sum": s, "n_members": n} for c, s, n in s0]
    )
    s1 = ivf_batch_stats(incr, centers0, 16)
    merged = []
    for (c, osum, on), (_, dsum, dn) in zip(s0, s1):
        if dn == 0:
            merged.append({"cell": c, "vec_sum": osum, "n_members": on})
        else:
            merged.append(
                {
                    "cell": c,
                    "vec_sum": [x + y for x, y in zip(osum, dsum)],
                    "n_members": on + dn,
                }
            )
    direct_centers = IvfIndexStore._centers_from(merged)

    serve = lambda centers: ivf_ann_topk(  # noqa: E731
        emb, 10, query_filter=F.col("vec_id") < 8, nprobe=4, centers=centers
    )
    fresh = IvfIndexStore(spark, store.path)  # see sim_pq_store_topk
    return _served_matches(
        emb, serve(fresh.centroids_matrix()), serve(direct_centers)
    )


# --------------------------------------------------------------------------
# pack_token_windows — sequence packing onto fixed token-budget windows
# --------------------------------------------------------------------------

PACK_ORACLE = f"""
WITH t AS (
  SELECT doc_id, CAST(len({_TOKS}) AS BIGINT) AS n FROM documents
),
nz AS (SELECT * FROM t WHERE n > 0),
s AS (
  SELECT doc_id, n,
         SUM(n) OVER (ORDER BY doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n
           AS st,
         SUM(n) OVER (ORDER BY doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS en
  FROM nz
),
e AS (
  SELECT doc_id, u.w AS window_id,
         LEAST(en, (u.w + 1) * 512) - GREATEST(st, u.w * 512) AS ntw
  FROM s, UNNEST(generate_series(CAST(FLOOR(st / 512.0) AS BIGINT),
                                 CAST(FLOOR((en - 1) / 512.0) AS BIGINT)))
         AS u(w)
)
SELECT CAST(window_id AS BIGINT) AS window_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(ntw) AS BIGINT) AS n_tokens,
       CAST(MIN(doc_id) AS BIGINT) AS first_doc,
       CAST(MAX(doc_id) AS BIGINT) AS last_doc
FROM e GROUP BY window_id ORDER BY window_id
"""


@register("pack_token_windows", PACK_ORACLE)
def pack_token_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing (operators/packing.py): concatenate every doc's
    tokens in doc_id order and slice the stream into 512-token training
    windows; per window — how many docs touch it, its token fill
    (exactly 512 for every interior window — the packing invariant), and
    the doc-id range it covers.

    Scale shape: the global prefix sum a dataloader layout needs is THE
    sequential scan, and the oracle's ``SUM() OVER (ORDER BY doc_id)`` is
    exactly the single-partition plan that cannot scale — the operator
    runs the two-phase form instead (per-bucket sums → tiny offset
    cumsum → parallel partitionBy(bucket) windows; bucket width 128 here
    so sf0.01 already exercises multi-bucket merging). Text never leaves
    the scan projection (token counts only), exploded rows = docs +
    boundary straddles, and the final per-window agg combines map-side.
    """
    from airflow_dags_spark.operators.packing import token_window_spans

    d = read_table(spark, sf_dir, "documents")
    spans = token_window_spans(
        d, "text", "doc_id", 512, key_bucket_width=128
    )
    return (
        spans.groupBy("window_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tokens_in_window").cast("bigint").alias("n_tokens"),
            F.min("doc_id").cast("bigint").alias("first_doc"),
            F.max("doc_id").cast("bigint").alias("last_doc"),
        )
        .orderBy("window_id")
    )


# --------------------------------------------------------------------------
# corpus_mixture_sample — deterministic per-source mixture re-balancing
# --------------------------------------------------------------------------

MIXTURE_ORACLE = """
WITH c AS (SELECT source AS src, COUNT(*) AS n_in FROM documents GROUP BY source),
r AS (
  SELECT src, n_in,
         LEAST(1.0, CAST((SELECT MIN(n_in) FROM c) AS DOUBLE)
                    / CAST(n_in AS DOUBLE)) AS rate
  FROM c
),
s AS (
  SELECT d.source AS src, d.doc_id
  FROM documents d JOIN r ON d.source = r.src
  WHERE r.rate >= 1.0
     OR substr(md5('mix:' || CAST(d.doc_id AS VARCHAR)), 1, 8)
        < lpad(lower(to_hex(CAST(FLOOR(r.rate * 4294967296.0) AS BIGINT))),
               8, '0')
)
SELECT r.src AS source,
       CAST(r.n_in AS BIGINT) AS n_in,
       CAST(COUNT(s.doc_id) AS BIGINT) AS n_sampled,
       CAST(COALESCE(SUM(
         ('0x' || substr(md5(CAST(s.doc_id AS VARCHAR)), 1, 8))::BIGINT
       ), 0) AS BIGINT) AS sample_checksum
FROM r LEFT JOIN s ON s.src = r.src
GROUP BY r.src, r.n_in
ORDER BY source
"""


@register("corpus_mixture_sample", MIXTURE_ORACLE)
def corpus_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture re-balancing (functions/sampling.py:mixture_sample):
    downsample every source to the smallest source's size via the
    deterministic md5-threshold keep rule, then report per source its
    input count, sampled count, and an order-insensitive md5-word
    checksum of the sampled doc_ids — the checksum pins the EXACT sample
    membership under the driver's hash check, not just its size.

    Scale shape: one tiny per-source count agg → broadcast rates →
    codegen hash-filter over the scan (no window, no payload through an
    exchange, no driver collect); the checksum agg combines map-side.
    Membership is a pure row property (hash vs rate threshold), so
    retries, re-runs and other engines select the identical set."""
    from airflow_dags_spark.functions.sampling import mixture_sample

    d = read_table(spark, sf_dir, "documents")
    samp = mixture_sample(d, "source", "doc_id")
    word = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
    ).cast("bigint")
    agg = samp.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("__n_s"),
        F.sum(word).cast("bigint").alias("__ck"),
    )
    counts = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_in")
    )
    return (
        counts.join(agg, "source", "left")
        .select(
            "source",
            "n_in",
            F.coalesce(F.col("__n_s"), F.lit(0)).cast("bigint").alias("n_sampled"),
            F.coalesce(F.col("__ck"), F.lit(0)).cast("bigint").alias("sample_checksum"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# pack_stream_resume — incremental packing through the TokenStreamStore
# --------------------------------------------------------------------------

PACK_RESUME_ORACLE = f"""
WITH t AS (
  SELECT doc_id, CAST(len({_TOKS}) AS BIGINT) AS n FROM documents
),
nz AS (SELECT * FROM t WHERE n > 0),
o AS (
  SELECT doc_id, n, doc_id % 2 AS b,
         SUM(n) OVER (ORDER BY doc_id % 2, doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM nz
)
SELECT CAST(b AS BIGINT) AS batch,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(MIN(cum - n) AS BIGINT) AS first_start,
       CAST(MAX(cum) AS BIGINT) AS last_end,
       CAST(SUM(n) AS BIGINT) AS n_tokens,
       CAST(SUM(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':'
                 || CAST(cum - n AS VARCHAR)), 1, 8))::BIGINT) AS BIGINT)
         AS offsets_checksum
FROM o GROUP BY b ORDER BY batch
"""


@register("pack_stream_resume", PACK_RESUME_ORACLE)
def pack_stream_resume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental packing end-to-end through the persistent
    ``TokenStreamStore`` (operators/packing.py): batch 0 (even doc_ids)
    packs from offset 0, batch 1 (odd doc_ids) RESUMES from the
    committed cursor, and batch 0 is then REPLAYED — the K3 ledger
    no-op; the replay changing nothing is part of what the hash check
    pins. Output per batch: doc count, stream boundaries, token mass,
    and an order-insensitive md5-word checksum over (doc_id, start)
    pairs — every document's exact committed offset is under the
    driver's hash, not just the batch totals.

    The oracle replays the same contract declaratively: one cumsum
    ordered by (batch, key) — batch order defines stream order across
    batches, ascending key within. Scale shape: per batch, the two-phase
    prefix scan of the BATCH plus a one-row cursor update; the
    historical stream is never re-read (SCALE.md round-13)."""
    from airflow_dags_spark.functions.text import token_count
    from airflow_dags_spark.operators.packing import TokenStreamStore

    d = read_table(spark, sf_dir, "documents")
    counts = d.select("doc_id", token_count("text").alias("__n"))
    even = counts.where(F.col("doc_id") % 2 == 0)
    odd = counts.where(F.col("doc_id") % 2 == 1)
    store = TokenStreamStore(
        spark, _scratch_store("tokstream")
    )
    store.append_batch(even, "__n", "b0", key_bucket_width=128)
    store.append_batch(odd, "__n", "b1", key_bucket_width=128)
    store.append_batch(even, "__n", "b0", key_bucket_width=128)  # replay no-op
    a = store.assignments()
    word = F.conv(
        F.substring(
            F.md5(F.concat_ws(":", F.col("doc_id"), F.col("start"))), 1, 8
        ),
        16,
        10,
    ).cast("bigint")
    return (
        a.groupBy(
            F.when(F.col("batch_id") == "b0", 0)
            .otherwise(1)
            .cast("bigint")
            .alias("batch")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.min("start").cast("bigint").alias("first_start"),
            F.max("end").cast("bigint").alias("last_end"),
            F.sum(F.col("end") - F.col("start")).cast("bigint").alias("n_tokens"),
            F.sum(word).cast("bigint").alias("offsets_checksum"),
        )
        .orderBy("batch")
    )


# --------------------------------------------------------------------------
# vocab_bpe_pairs — first-merge-step BPE statistics over the corpus
# --------------------------------------------------------------------------

BPE_PAIRS_ORACLE = f"""
WITH w AS (
  SELECT t AS w, COUNT(*) AS f
  FROM (SELECT unnest({_TOKS}) AS t FROM documents)
  GROUP BY t
),
p AS (
  SELECT substr(w, CAST(u.i AS INTEGER), 2) AS pair, f
  FROM w, UNNEST(generate_series(1, length(w) - 1)) AS u(i)
)
SELECT pair, CAST(SUM(f) AS BIGINT) AS n
FROM p GROUP BY pair
ORDER BY n DESC, pair
LIMIT 50
"""


@register("vocab_bpe_pairs", BPE_PAIRS_ORACLE)
def vocab_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 adjacent character pairs by corpus frequency
    (functions/text.py:bpe_pair_counts) — the exact statistic the first
    BPE merge step maximizes, i.e. the vocabulary-induction side of the
    token-counting family. Deterministic total order (count desc, pair)
    so the LIMIT is hash-stable.

    Scale shape: tokens collapse to word TYPES in the combiner before
    anything shuffles (the heavy-tail collapse — 'the' arrives at the
    reducer once per partition, not once per occurrence), pairs explode
    off the bounded vocabulary only, and the top-50 runs as per-partition
    TakeOrdered, never a global sort."""
    from airflow_dags_spark.functions.text import bpe_pair_counts

    d = read_table(spark, sf_dir, "documents")
    return (
        bpe_pair_counts(d, "text")
        .orderBy(F.col("n").desc(), "pair")
        .limit(50)
    )


__all__ = [
    "corpus_mixture_sample",
    "curate_funnel_counts",
    "pack_stream_resume",
    "pack_token_windows",
    "sim_ivf_store_topk",
    "sim_pq_store_topk",
    "vocab_bpe_pairs",
]
