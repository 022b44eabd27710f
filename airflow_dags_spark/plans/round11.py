"""Round-11 registry additions — the three genuinely-new surfaces the r7
verdict ranked for this round (§Next-round #6), kept small (5 queries) so
the 27-query driver-verification backlog drains inside the same window:

- **meta_bench_trend / meta_correctness_rounds** — the cross-round
  regression dashboard surfaced as driver queries: the engine analyzes its
  own recorded sidecar history (BENCH_r*.json / CORRECTNESS_r*.json) with
  the same relational operators it runs on data. The round window is
  PINNED at registration time (rounds 1–7): the history is append-only,
  and an unpinned glob would race the driver writing the current round's
  files between the Spark run and the oracle run — a cross-engine
  mismatch by timing, not by computation.
- **sim_ivf_recenter_step** — one deterministic re-centering step of an
  IVF coarse quantizer, fully oracle-checked: assign every vector to its
  nearest seed centroid by ROUNDED cosine (6 dp + lowest-cell tiebreak,
  the established cross-engine ranking discipline), then emit per
  (cell, dim) the member count, new centroid component, and shift. The
  persistent incremental form (sufficient-statistics store, batch-ledger
  replay safety) is ``operators/ann_store.py:IvfIndexStore`` —
  pytest-verified against a numpy reference; this query is its
  SQL-expressible single step.
- **rag_chunk_dedup** — the RAG ingestion composition chunk → fingerprint
  → exact-dedup: 64/16 sliding-window chunks (the ``text_chunk_overlap``
  splitter, source column riding along in the map stage — no chunks×docs
  re-join), md5 chunk fingerprints, per-source duplication stats.
- **rag_chunk_screen** — the near-dup sibling: chunk → MinHash-band sign
  → incremental screen of new-half chunks against the stored-half
  signatures (the ``dedup_minhash_incr_screen`` operator composed over
  chunks instead of documents), oracle-mirrored with the same banded SQL.

Scale notes (100 TB): the meta queries read kilobytes (fixed sidecar
files). Recenter-step shuffles (a) one narrow (vec, cell, sim) frame that
map-side partial-min collapses to one row per vector before the exchange,
(b) the corpus once for the member join, (c) k×dim aggregates — never an
unbounded window; k is a constant. Chunk dedup is a codegen map stage
plus two hash aggregations keyed by fingerprint/source; chunk screen
signs each chunk once and band-joins signatures only (bytes bounded by
signatures, with band-value bucket pruning) — both inherit the linear
shapes of their document-level parents.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType, MapType, StringType, StructField, StructType

from airflow_dags_spark.functions.text import chunk_text
from airflow_dags_spark.functions.vectors import as_double, cosine_pre, l2_norm
from airflow_dags_spark.plans.registry import register
from airflow_dags_spark.plans.shared import scan_spread
from airflow_dags_spark.sources.tables import read_table

# Sidecar location for the meta queries: env override first (driver
# sandboxes / scratch deployments), else the repo root derived from this
# module's own location (plans/ → airflow_dags_spark/ → repo). The
# BENCH_r*/CORRECTNESS_r*.json sidecars are WRITE-ONCE by contract — the
# driver records each round's file exactly once and never rewrites it;
# the import-time pin below (and the cross-engine agreement of the meta
# queries) is sound only under that contract. A sidecar rewritten in
# place between the Spark run and the oracle run would diverge the
# engines despite the pin (ADVICE r8).
import os as _os

_REPO_DIR = _os.environ.get("SPARK_GRAFT_REPO_DIR") or _os.path.dirname(
    _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__)))
)


def _compute_meta_max_round(repo_dir: str = _REPO_DIR) -> int:
    """The dashboard window pin, computed ONCE at module import: the
    highest round with BOTH sidecars present and cleanly parseable. Both
    the Spark plan and the oracle SQL text are built from this same
    constant within one session, so they always agree — while the ≤-pin
    filter makes files the driver writes LATER in the session (the
    current round's records, which would otherwise race the comparison)
    invisible to both engines. History is append-only, so the pin only
    ever grows between sessions; 7 (the last round verified when this
    module landed) is the floor and the corrupt-history fallback."""
    import glob
    import json
    import re

    per_kind: list[set[int]] = []
    for kind in ("BENCH", "CORRECTNESS"):
        seen: set[int] = set()
        for p in glob.glob(f"{repo_dir}/{kind}_r*.json"):
            m = re.search(rf"{kind}_r(\d+)\.json$", p)
            if not m:
                continue
            try:
                json.load(open(p))
            except Exception:
                continue  # partially-written or corrupt: not pinnable
            seen.add(int(m.group(1)))
        per_kind.append(seen)
    # explicit intersection of BOTH kinds — an empty first set must yield
    # an empty intersection (→ the floor), not fall through to whichever
    # kind parsed (the empty-set-as-sentinel bug a self-review caught)
    rounds = set.intersection(*per_kind)
    return max(7, max(rounds) if rounds else 7)


# Pinned at import (see _compute_meta_max_round: race-free by construction,
# self-extending as driver rounds land).
_META_MAX_ROUND = _compute_meta_max_round()


# --------------------------------------------------------------------------
# meta_bench_trend — per-query round-over-round timing ratios
# --------------------------------------------------------------------------

def _bench_trend_oracle(repo_dir: str, pin: int) -> str:
    """Oracle SQL builder, parameterized on (dir, pin) so the corrupt-file
    tolerance path is directly testable against scratch sidecars
    (tests/test_round11_meta.py) with the exact SQL the driver runs."""
    return f"""
WITH raw AS MATERIALIZED (
  -- MATERIALIZED + TRY_CAST (r11): the driver's own BENCH_r10_c8.json
  -- low-core sidecar matches the glob but not the round pattern, so the
  -- extract yields '' — Spark's permissive cast NULLs it and the filter
  -- drops the row; DuckDB's strict CAST errored instead, and DuckDB
  -- 1.0.0 additionally hits an internal assertion when a TRY_CAST over
  -- the filename virtual column is pushed into the json reader, which
  -- the materialization barrier prevents.
  SELECT TRY_CAST(regexp_extract(filename, 'BENCH_r(\\d+)\\.json', 1) AS BIGINT)
           AS round,
         parsed.queries AS qmap
  -- ignore_errors mirrors Spark's PERMISSIVE read: a corrupt sidecar
  -- (disk damage, partial write) yields a NULL parsed row on BOTH
  -- engines and the IS NOT NULL filter drops it — instead of erroring
  -- the oracle while Spark silently skips (a divergence by robustness).
  FROM read_json('{repo_dir}/BENCH_r*.json', filename=true,
        ignore_errors=true,
        columns={{'parsed': 'STRUCT(queries MAP(VARCHAR, DOUBLE))'}})
),
b AS (
  SELECT round, qmap FROM raw
  WHERE round <= {pin} AND qmap IS NOT NULL
),
q AS (
  SELECT round, unnest(map_keys(qmap)) AS query,
         unnest(map_values(qmap)) AS sec
  FROM b
)
SELECT cur.round, cur.query, prev.sec AS prev_s, cur.sec AS cur_s,
       ROUND(cur.sec / prev.sec, 2) AS ratio,
       (cur.sec > prev.sec * 1.5 AND cur.sec - prev.sec > 0.3) AS flagged
FROM q cur
JOIN q prev ON prev.query = cur.query AND prev.round = cur.round - 1
"""


def _bench_trend_frame(spark: SparkSession, repo_dir: str, pin: int) -> DataFrame:
    b = (
        spark.read.option("multiLine", "true")
        .schema("parsed struct<queries: map<string,double>>")
        .json(f"{repo_dir}/BENCH_r*.json")
        .select(
            F.regexp_extract(
                F.col("_metadata.file_path"), r"BENCH_r(\d+)\.json", 1
            )
            .cast("bigint")
            .alias("round"),
            F.col("parsed.queries").alias("qmap"),
        )
        .where((F.col("round") <= pin) & F.col("qmap").isNotNull())
    )
    q = b.select("round", F.explode("qmap").alias("query", "sec"))
    cur, prev = q.alias("cur"), q.alias("prev")
    return cur.join(
        prev,
        (F.col("prev.query") == F.col("cur.query"))
        & (F.col("prev.round") == F.col("cur.round") - 1),
    ).select(
        F.col("cur.round").alias("round"),
        F.col("cur.query").alias("query"),
        F.col("prev.sec").alias("prev_s"),
        F.col("cur.sec").alias("cur_s"),
        # round(x * 100) / 100, not round(x, 2): Spark rounds the shortest
        # decimal string of x half-up (0.41 / 0.4 = 1.02499999999999991…
        # prints as "1.025" → 1.03), DuckDB's ROUND rounds the double's
        # value (→ 1.02); the scaled form agrees with DuckDB's ROUND(x, 2)
        (F.round(F.col("cur.sec") / F.col("prev.sec") * 100) / 100).alias("ratio"),
        (
            (F.col("cur.sec") > F.col("prev.sec") * 1.5)
            & (F.col("cur.sec") - F.col("prev.sec") > 0.3)
        ).alias("flagged"),
    )


BENCH_TREND_ORACLE = _bench_trend_oracle(_REPO_DIR, _META_MAX_ROUND)


@register("meta_bench_trend", BENCH_TREND_ORACLE)
def meta_bench_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-over-round per-query bench ratios from the recorded
    BENCH_r*.json history — the scripts_bench_trend.py detector as a
    relational plan (self-join on (query, round-1)); ``flagged`` applies
    the same ratio-AND-absolute rule (1.5×, 0.3 s floor). Rounds with no
    parsed line (the r4 truncation hole) drop out on both engines."""
    return _bench_trend_frame(spark, _REPO_DIR, _META_MAX_ROUND)


# --------------------------------------------------------------------------
# meta_correctness_rounds — per-round driver-verification summary
# --------------------------------------------------------------------------

def _correctness_rounds_oracle(repo_dir: str, pin: int) -> str:
    return f"""
WITH f AS (
  SELECT TRY_CAST(regexp_extract(filename, 'CORRECTNESS_r(\\d+)\\.json', 1)
              AS BIGINT) AS round,
         -- TRY_CAST mirrors Spark's null-on-corrupt from_json: a damaged
         -- sidecar contributes zero rows on BOTH engines (and, on the
         -- filename, a glob-matching file outside the round pattern —
         -- see the BENCH_r10_c8.json note above)
         TRY_CAST(content AS JSON) AS j
  FROM read_text('{repo_dir}/CORRECTNESS_r*.json')
  WHERE TRY_CAST(regexp_extract(filename, 'CORRECTNESS_r(\\d+)\\.json', 1)
             AS BIGINT) <= {pin}
),
k AS (SELECT round, unnest(json_keys(j)) AS query, j FROM f),
rw AS (
  SELECT round, query,
         CAST(json_extract(j, '$."' || query || '".hash_match')
              AS VARCHAR) = 'true' AS hm,
         json_extract_string(j, '$."' || query || '".err') AS err
  FROM k
)
SELECT round,
       CAST(COUNT(*) AS BIGINT) AS n_checked,
       CAST(SUM(CASE WHEN hm THEN 1 ELSE 0 END) AS BIGINT) AS n_hash_match,
       CAST(SUM(CASE WHEN err = 'no_oracle' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_rows_only,
       CAST(SUM(CASE WHEN err IS NOT NULL AND err != 'no_oracle'
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_err
FROM rw GROUP BY round
"""


CORRECTNESS_ROUNDS_ORACLE = _correctness_rounds_oracle(
    _REPO_DIR, _META_MAX_ROUND
)


def _correctness_rounds_frame(
    spark: SparkSession, repo_dir: str, pin: int
) -> DataFrame:
    row_schema = MapType(
        StringType(),
        StructType(
            [
                StructField("hash_match", BooleanType()),
                StructField("err", StringType()),
            ]
        ),
    )
    c = (
        spark.read.text(f"{repo_dir}/CORRECTNESS_r*.json", wholetext=True)
        .select(
            F.regexp_extract(
                F.col("_metadata.file_path"), r"CORRECTNESS_r(\d+)\.json", 1
            )
            .cast("bigint")
            .alias("round"),
            F.from_json(F.col("value"), row_schema).alias("m"),
        )
        .where(F.col("round") <= pin)
        .select("round", F.explode("m").alias("query", "row"))
    )
    return c.groupBy("round").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_checked"),
        F.sum(F.when(F.col("row.hash_match"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_hash_match"),
        F.sum(F.when(F.col("row.err") == "no_oracle", 1).otherwise(0))
        .cast("bigint")
        .alias("n_rows_only"),
        F.sum(
            F.when(
                F.col("row.err").isNotNull() & (F.col("row.err") != "no_oracle"),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_err"),
    )


@register("meta_correctness_rounds", CORRECTNESS_ROUNDS_ORACLE)
def meta_correctness_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-round driver-verification summary from CORRECTNESS_r*.json —
    dynamic JSON keys handled as a MAP (wholetext scan + ``from_json``
    MapType; the oracle unnests ``json_keys``). The engine's own
    correctness ledger, queryable."""
    return _correctness_rounds_frame(spark, _REPO_DIR, _META_MAX_ROUND)


# --------------------------------------------------------------------------
# sim_ivf_recenter_step — one oracle-checked IVF re-centering step
# --------------------------------------------------------------------------

_K_CELLS = 8

IVF_RECENTER_ORACLE = f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings WHERE embedding IS NOT NULL
),
cent AS (
  SELECT CAST(vec_id AS INTEGER) AS cell, v AS c FROM e
  WHERE vec_id < {_K_CELLS}
),
sims AS (
  SELECT e.vec_id, cent.cell,
         ROUND(CASE WHEN sqrt(list_dot_product(e.v, e.v))
                         * sqrt(list_dot_product(cent.c, cent.c)) > 0
                    THEN list_dot_product(e.v, cent.c)
                         / (sqrt(list_dot_product(e.v, e.v))
                            * sqrt(list_dot_product(cent.c, cent.c)))
                    ELSE 0.0 END, 6) + 0.0 AS sim
  FROM e, cent
),
best AS (
  SELECT vec_id, cell FROM (
    SELECT vec_id, cell,
           ROW_NUMBER() OVER (PARTITION BY vec_id
                              ORDER BY sim DESC, cell ASC) AS rn
    FROM sims
  ) WHERE rn = 1
),
memb AS (
  SELECT b.cell,
         unnest(e.v) AS val,
         unnest(generate_series(0, len(e.v) - 1)) AS dim
  FROM best b JOIN e USING (vec_id)
),
perdim AS (
  SELECT cell, dim, CAST(COUNT(*) AS BIGINT) AS n_members, AVG(val) AS m
  FROM memb GROUP BY cell, dim
),
old AS (
  SELECT cell, unnest(c) AS old_v,
         unnest(generate_series(0, len(c) - 1)) AS dim
  FROM cent
)
SELECT p.cell, p.dim, p.n_members,
       ROUND(p.m, 6) + 0.0 AS new_c,
       ROUND(p.m - o.old_v, 6) + 0.0 AS shift
FROM perdim p JOIN old o USING (cell, dim)
"""


@register("sim_ivf_recenter_step", IVF_RECENTER_ORACLE)
def sim_ivf_recenter_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One deterministic IVF re-centering step (the SQL-expressible core
    of ``operators/ann_store.py:IvfIndexStore``): seed centroids = the
    8 lowest vec_ids, assignment by rounded cosine (6 dp, lowest
    cell on ties — argmin of a (-sim, cell) struct, NO ranking window),
    new centroid = per-dim member mean, emitted per (cell, dim) with the
    component shift.

    Plan: broadcast the k-row centroid frame; the (vec × k) similarity
    rows collapse map-side (partial min per vec_id) before one narrow
    exchange; corpus joins the assignment once; per-(cell, dim) partial
    aggregation bounds the final shuffle at k×dim groups."""
    emb = read_table(spark, sf_dir, "embeddings").where(
        F.col("embedding").isNotNull()
    )
    # norms staged once per row/centroid — cosine() inline in the pair
    # select would re-fold both 64-dim norms per (vec × cell) pair
    # (float-identical either way, see functions.vectors.cosine_pre)
    v = emb.select("vec_id", as_double("embedding").alias("v")).withColumn(
        "nv", l2_norm(F.col("v"))
    )
    cent = (
        v.where(F.col("vec_id") < _K_CELLS)
        .select(
            F.col("vec_id").cast("int").alias("cell"),
            F.col("v").alias("c"),
            F.col("nv").alias("nc"),
        )
    )
    sims = v.crossJoin(F.broadcast(cent)).select(
        "vec_id",
        "cell",
        (
            F.round(
                cosine_pre(F.col("v"), F.col("c"), F.col("nv"), F.col("nc")), 6
            )
            + F.lit(0.0)
        ).alias("sim"),
    )
    best = (
        sims.groupBy("vec_id")
        .agg(
            F.min(
                F.struct((-F.col("sim")).alias("ns"), F.col("cell").alias("cell"))
            ).alias("b")
        )
        .select("vec_id", F.col("b.cell").alias("cell"))
    )
    memb = v.join(best, "vec_id").select(
        "cell", F.posexplode("v").alias("dim", "val")
    )
    perdim = memb.groupBy("cell", "dim").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_members"),
        F.avg("val").alias("m"),
    )
    old = cent.select("cell", F.posexplode("c").alias("dim", "old_v"))
    return perdim.join(F.broadcast(old), ["cell", "dim"]).select(
        "cell",
        "dim",
        "n_members",
        (F.round(F.col("m"), 6) + F.lit(0.0)).alias("new_c"),
        (F.round(F.col("m") - F.col("old_v"), 6) + F.lit(0.0)).alias("shift"),
    )


# --------------------------------------------------------------------------
# rag_chunk_dedup — chunk → fingerprint → exact-dedup stats per source
# --------------------------------------------------------------------------

_NORM = "LOWER(REGEXP_REPLACE(TRIM(text), '\\s+', ' ', 'g'))"

RAG_CHUNK_DEDUP_ORACLE = f"""
WITH t AS (
  SELECT doc_id, source, string_split({_NORM}, ' ') AS toks FROM documents
),
c AS (
  SELECT doc_id, source,
         md5(array_to_string(toks[i:i+63], ' ')) AS fp
  FROM t, LATERAL (
    SELECT unnest(generate_series(1, GREATEST(len(toks), 1), 48)) AS i
  )
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_chunks,
       CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_distinct,
       ROUND(1.0 - COUNT(DISTINCT fp) / CAST(COUNT(*) AS DOUBLE), 6) + 0.0
         AS dup_ratio
FROM c GROUP BY source
"""


@register("rag_chunk_dedup", RAG_CHUNK_DEDUP_ORACLE)
def rag_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG ingestion dedup, exact tier: 64/16 sliding-window chunks
    (``chunk_text``, source riding along in the map stage), md5 chunk
    fingerprints, per-source duplication stats — the chunk-level form of
    ``dedup_exact`` and the exact-verify floor under ``rag_chunk_screen``.
    Plan: codegen chunking map → one (source, fp)-keyed distinct-count
    aggregation; no join anywhere."""
    d = read_table(spark, sf_dir, "documents")
    chunks = chunk_text(
        d, "text", "doc_id", chunk_size=64, overlap=16, extra_cols=("source",)
    ).select("source", F.md5("chunk").alias("fp"))
    return chunks.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_chunks"),
        F.count_distinct("fp").cast("bigint").alias("n_distinct"),
        (
            F.round(
                1.0
                - F.count_distinct("fp") / F.count(F.lit(1)).cast("double"),
                6,
            )
            + F.lit(0.0)
        ).alias("dup_ratio"),
    )


# --------------------------------------------------------------------------
# rag_chunk_screen — chunk → MinHash sign → incremental screen
# --------------------------------------------------------------------------

_CHUNK_SHINGLES = """
list_distinct(
  list_transform(
    generate_series(1, GREATEST(len(ctoks) - 2, 0)),
    i -> ctoks[i] || ' ' || ctoks[i+1] || ' ' || ctoks[i+2]
  )
)
"""

RAG_CHUNK_SCREEN_ORACLE = f"""
WITH t AS (
  SELECT doc_id, string_split({_NORM}, ' ') AS toks FROM documents
),
ch AS (
  SELECT doc_id,
         doc_id * 100000 + CAST((i - 1) / 48 AS BIGINT) AS chunk_id,
         doc_id % 2 = 0 AS is_store,
         toks[i:i+63] AS ctoks
  FROM t, LATERAL (
    SELECT unnest(generate_series(1, GREATEST(len(toks), 1), 48)) AS i
  )
),
sh AS MATERIALIZED (
  SELECT chunk_id, is_store, {_CHUNK_SHINGLES} AS sh FROM ch
),
bands AS MATERIALIZED (
  SELECT chunk_id, is_store,
    CASE WHEN len(sh) > 0
         THEN list_min(list_transform(sh, s -> md5('b0:' || s))) END AS band_0,
    CASE WHEN len(sh) > 0
         THEN list_min(list_transform(sh, s -> md5('b1:' || s))) END AS band_1,
    CASE WHEN len(sh) > 0
         THEN list_min(list_transform(sh, s -> md5('b2:' || s))) END AS band_2,
    CASE WHEN len(sh) > 0
         THEN list_min(list_transform(sh, s -> md5('b3:' || s))) END AS band_3
  FROM sh
),
st AS (
  SELECT chunk_id, 0 AS band_idx, band_0 AS band_val FROM bands WHERE is_store
  UNION ALL SELECT chunk_id, 1, band_1 FROM bands WHERE is_store
  UNION ALL SELECT chunk_id, 2, band_2 FROM bands WHERE is_store
  UNION ALL SELECT chunk_id, 3, band_3 FROM bands WHERE is_store
),
nw AS (
  SELECT chunk_id, 0 AS band_idx, band_0 AS band_val
  FROM bands WHERE NOT is_store
  UNION ALL SELECT chunk_id, 1, band_1 FROM bands WHERE NOT is_store
  UNION ALL SELECT chunk_id, 2, band_2 FROM bands WHERE NOT is_store
  UNION ALL SELECT chunk_id, 3, band_3 FROM bands WHERE NOT is_store
),
hits AS (
  SELECT n.chunk_id, MIN(s.chunk_id) AS matched_store_chunk,
         CAST(COUNT(DISTINCT n.band_idx) AS BIGINT) AS n_matching_bands
  FROM nw n JOIN st s
    ON n.band_idx = s.band_idx AND n.band_val = s.band_val
  GROUP BY n.chunk_id
)
SELECT b.chunk_id, h.matched_store_chunk,
       COALESCE(h.n_matching_bands, 0) AS n_matching_bands
FROM bands b LEFT JOIN hits h ON b.chunk_id = h.chunk_id
WHERE NOT b.is_store
"""


@register("rag_chunk_screen", RAG_CHUNK_SCREEN_ORACLE)
def rag_chunk_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG ingestion dedup, near-dup tier: chunk the corpus (64/16), sign
    each chunk once (MinHash bands), screen the chunks of odd documents
    against the stored signatures of even documents' chunks — the full
    chunk → sign → screen pipeline of a near-dup-screened RAG ingest
    (``operators.dedup.minhash_incremental_screen`` composed over
    ``chunk_text`` output; the persistent form is
    ``MinhashSignatureStore`` keyed by chunk_id).

    Scale shape identical to ``dedup_minhash_incr_screen``: per-chunk
    hashing parallelized by an explicit pre-band repartition, ONE band
    equi-join bounded by signature bytes, one grouped agg."""
    from airflow_dags_spark.operators.dedup import (
        minhash_bands,
        minhash_incremental_screen,
    )

    d = read_table(spark, sf_dir, "documents")
    chunks = chunk_text(d, "text", "doc_id", chunk_size=64, overlap=16).select(
        (F.col("doc_id") * 100000 + F.col("chunk_idx")).alias("chunk_id"),
        (F.col("doc_id") % 2 == 0).alias("is_store"),
        "chunk",
    )
    # single-split parquet at test SF + compute-bound shingle hashing:
    # spread rows before banding (same note as dedup_minhash_incr_screen)
    chunks = scan_spread(chunks, "chunk_id")
    store_bands = minhash_bands(
        chunks.where(F.col("is_store")), "chunk", "chunk_id"
    )
    return minhash_incremental_screen(
        store_bands, chunks.where(~F.col("is_store")), "chunk", "chunk_id"
    ).withColumnRenamed("matched_store_doc", "matched_store_chunk")


__all__ = [
    "meta_bench_trend",
    "meta_correctness_rounds",
    "sim_ivf_recenter_step",
    "rag_chunk_dedup",
    "rag_chunk_screen",
]
