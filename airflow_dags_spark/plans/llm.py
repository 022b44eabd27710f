"""LLM-data-pipeline queries (north-star §2.9) over documents/embeddings.

Oracle-checked where DuckDB can express the same computation (exact dedup,
portable md5-MinHash, shingle Jaccard, brute-force cosine top-k, text
stats); seeded-ML variants (MinHashLSH, random-projection ANN, SimHash UDF)
register rows-only and are verified in pytest against exact references.
"""

from __future__ import annotations

import os

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from airflow_dags_spark.functions.text import (
    BPE_TOKEN_PATTERN,
    bpe_token_count,
    chunk_text,
    fingerprint,
    lang_id_heuristic,
    quality_columns,
    tfidf_terms,
    token_count,
)
from airflow_dags_spark.operators.dedup import (
    connected_components,
    exact_dedup,
    minhash_bands,
    minhash_candidate_pairs,
    minhash_lsh_pairs,
    ngram_jaccard,
    simhash,
)
from airflow_dags_spark.operators.multimodal import (
    attach_payload_metadata,
    decode_payload,
    extract_features,
    fake_decoder,
    resize_decoded,
    sample_frames,
)
from airflow_dags_spark.operators.similarity import (
    brute_force_topk,
    embedding_near_dup,
    ivf_ann_topk,
    lsh_ann_topk,
)
from airflow_dags_spark.plans.registry import register
from airflow_dags_spark.sources.tables import read_table

# Canonical normalized-text SQL fragment, kept in lockstep with
# functions.text.normalized().
_NORM = "LOWER(REGEXP_REPLACE(TRIM(text), '\\s+', ' ', 'g'))"
# Word-shingle list (n=3) over normalized tokens, DuckDB side of
# functions.text.word_shingles.
_SHINGLES = f"""
list_distinct(
  list_transform(
    generate_series(1, GREATEST(len(string_split({_NORM}, ' ')) - 2, 0)),
    i -> string_split({_NORM}, ' ')[i] || ' ' ||
         string_split({_NORM}, ' ')[i+1] || ' ' ||
         string_split({_NORM}, ' ')[i+2]
  )
)
"""


DEDUP_EXACT_ORACLE = f"""
SELECT MIN(doc_id) AS doc_id, md5({_NORM}) AS content_hash, COUNT(*) AS n_copies
FROM documents
GROUP BY md5({_NORM})
"""


@register("dedup_exact", DEDUP_EXACT_ORACLE)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on md5(normalized text), min-key survivor."""
    d = read_table(spark, sf_dir, "documents")
    return exact_dedup(d, "text", "doc_id")


MINHASH_BANDS_ORACLE = f"""
SELECT doc_id,
  CASE WHEN len({_SHINGLES}) > 0
       THEN list_min(list_transform({_SHINGLES}, s -> md5('b0:' || s))) END AS band_0,
  CASE WHEN len({_SHINGLES}) > 0
       THEN list_min(list_transform({_SHINGLES}, s -> md5('b1:' || s))) END AS band_1,
  CASE WHEN len({_SHINGLES}) > 0
       THEN list_min(list_transform({_SHINGLES}, s -> md5('b2:' || s))) END AS band_2,
  CASE WHEN len({_SHINGLES}) > 0
       THEN list_min(list_transform({_SHINGLES}, s -> md5('b3:' || s))) END AS band_3
FROM documents
"""


@register("dedup_minhash_bands", MINHASH_BANDS_ORACLE)
def dedup_minhash_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable MinHash band signatures (md5-salted min-wise hashing over
    3-token shingles) — the oracle-checkable core of near-dup LSH."""
    d = read_table(spark, sf_dir, "documents")
    return minhash_bands(d, "text", "doc_id", n_shingle=3)


DEDUP_CLUSTERS_ORACLE = f"""
WITH RECURSIVE bands AS MATERIALIZED ({MINHASH_BANDS_ORACLE}),
stacked AS MATERIALIZED (
  SELECT doc_id, 0 AS band_idx, band_0 AS band_val FROM bands
  UNION ALL SELECT doc_id, 1, band_1 FROM bands
  UNION ALL SELECT doc_id, 2, band_2 FROM bands
  UNION ALL SELECT doc_id, 3, band_3 FROM bands
),
pairs AS MATERIALIZED (
  SELECT DISTINCT a.doc_id AS key_a, b.doc_id AS key_b
  FROM stacked a JOIN stacked b
    ON a.band_idx = b.band_idx AND a.band_val = b.band_val
   AND a.doc_id < b.doc_id
),
edges AS MATERIALIZED (
  SELECT key_a AS src, key_b AS dst FROM pairs
  UNION ALL SELECT key_b, key_a FROM pairs
),
reach AS (
  SELECT doc_id AS node, doc_id AS r FROM documents
  UNION
  SELECT w.node, e.dst FROM reach w JOIN edges e ON e.src = w.r
)
SELECT node AS doc_id, MIN(r) AS component_id
FROM reach GROUP BY node
"""


@register("dedup_clusters", DEDUP_CLUSTERS_ORACLE)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate clusters: minhash band candidate pairs → connected
    components (iterative min-label propagation). component_id = min doc_id
    in the cluster — deterministic, so the iterative Spark algorithm is
    exactly checkable against DuckDB's recursive-CTE transitive closure."""
    d = read_table(spark, sf_dir, "documents")
    pairs = minhash_candidate_pairs(d, "text", "doc_id", n_shingle=3)
    nodes = d.select(F.col("doc_id").alias("node"))
    cc = connected_components(nodes, pairs)
    return cc.select(F.col("node").alias("doc_id"), F.col("component").alias("component_id"))


NGRAM_JACCARD_ORACLE = f"""
WITH sh AS (SELECT doc_id, {_SHINGLES} AS s FROM documents)
SELECT a.doc_id AS key_a, b.doc_id AS key_b,
  ROUND(
    CASE WHEN len(list_distinct(list_concat(a.s, b.s))) > 0
         THEN CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
              / len(list_distinct(list_concat(a.s, b.s)))
         ELSE 0.0 END, 6) AS jaccard
FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1
"""


@register("dedup_ngram_jaccard", NGRAM_JACCARD_ORACLE)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard on candidate pairs (consecutive doc_ids stand in
    for LSH candidates so the check stays linear, not all-pairs)."""
    d = read_table(spark, sf_dir, "documents")
    a = d.select(F.col("doc_id").alias("key_a"), F.col("text").alias("text_a"))
    b = d.select(F.col("doc_id").alias("key_b"), F.col("text").alias("text_b"))
    pairs = a.join(b, F.col("key_b") == F.col("key_a") + 1)
    return ngram_jaccard(pairs, "text_a", "text_b", n_shingle=3).select(
        "key_a", "key_b", "jaccard"
    )


@register("dedup_minhash_lsh_pairs", None)  # seeded murmur → rows-only
def dedup_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs via pyspark.ml MinHashLSH approxSimilarityJoin."""
    d = read_table(spark, sf_dir, "documents")
    return minhash_lsh_pairs(d, "text", "doc_id", jaccard_threshold=0.3)


@register("dedup_simhash", None)  # pandas-UDF fingerprint → rows-only
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit SimHash fingerprints (Arrow-batched pandas UDF)."""
    d = read_table(spark, sf_dir, "documents")
    return simhash(d, "text", "doc_id")


COSINE_TOPK_ORACLE = """
WITH c AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
     q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
           FROM embeddings WHERE vec_id < 5),
     sims AS (
       SELECT qid, cid,
              ROUND(
                CASE WHEN sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv)) > 0
                     THEN list_dot_product(qv, cv)
                          / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv)))
                     ELSE 0.0 END, 6) + 0.0 AS sim
       FROM q, c
     )
SELECT qid, cid, sim FROM (
  SELECT qid, cid, sim,
         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, cid ASC) AS rn
  FROM sims
) t WHERE rn <= 10
"""


@register("sim_cosine_topk", COSINE_TOPK_ORACLE)
def sim_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-10 for query vectors vec_id < 5."""
    emb = read_table(spark, sf_dir, "embeddings")
    return brute_force_topk(emb, 10, query_filter=F.col("vec_id") < 5)


@register("sim_ann_lsh_topk", None)  # seeded random projections → rows-only
def sim_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-10 via BucketedRandomProjectionLSH (scale path)."""
    emb = read_table(spark, sf_dir, "embeddings")
    return lsh_ann_topk(emb, 10, query_filter=F.col("vec_id") < 5)


@register("sim_ann_ivf_topk", None)  # seeded KMeans quantizer → rows-only
def sim_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-10 via IVF coarse quantization (nprobe/n_cells cost dial)."""
    emb = read_table(spark, sf_dir, "embeddings")
    return ivf_ann_topk(
        emb, 10, query_filter=F.col("vec_id") < 5, n_cells=8, nprobe=3
    )


EMBEDDING_NEAR_DUP_ORACLE = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings WHERE vec_id < 100)
SELECT a.vec_id AS key_a, b.vec_id AS key_b,
  ROUND(
    CASE WHEN sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)) > 0
         THEN list_dot_product(a.v, b.v)
              / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
         ELSE 0.0 END, 6) + 0.0 AS sim
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE CASE WHEN sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)) > 0
           THEN ROUND(list_dot_product(a.v, b.v)
                / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6)
           ELSE 0.0 END >= 0.15
"""


@register("dedup_embedding_cosine", EMBEDDING_NEAR_DUP_ORACLE)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (exact, inside a bounded candidate
    scope — the per-bucket verify step of the 100 TB bucketed pipeline)."""
    emb = read_table(spark, sf_dir, "embeddings")
    return embedding_near_dup(
        emb, 0.15, scope_filter=F.col("vec_id") < 100
    )


@register("dedup_semantic_embedding", None)  # k-means fit is engine-internal
def dedup_semantic_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup over the embeddings table: distributed
    spherical k-means partitions the corpus, exact cosine runs only inside
    clusters, min-key survivor wins. Reports the per-cluster prune summary
    (corpus size, survivors, max within-cluster duplicate similarity).

    Rows-only for the driver (the quantizer fit is not SQL-expressible);
    exactness vs a global numpy brute-force of the same rule is
    pytest-checked (tests/test_clustering.py)."""
    from airflow_dags_spark.operators.clustering import semantic_dedup
    from airflow_dags_spark.sources.tables import parquet_row_count

    emb = read_table(spark, sf_dir, "embeddings")
    # footer-metadata row count: sizes n_clusters with zero Spark jobs
    n = parquet_row_count(spark, os.path.join(sf_dir, "embeddings.parquet"))
    marked = semantic_dedup(emb, 0.15, approx_count=n)  # auto-scaled k, capped
    return (
        marked.groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.sum(F.col("kept").cast("bigint")).alias("n_kept"),
            F.max("best_lower_sim").alias("max_dup_sim"),
        )
        .orderBy("cluster")
    )


TEXT_STATS_ORACLE = f"""
SELECT doc_id,
  LENGTH(text) AS n_chars,
  len(string_split({_NORM}, ' ')) AS n_tokens,
  ROUND(CASE WHEN len(string_split({_NORM}, ' ')) > 0
        THEN CAST(LENGTH(REPLACE({_NORM}, ' ', '')) AS DOUBLE)
             / len(string_split({_NORM}, ' '))
        ELSE 0.0 END, 6) AS avg_token_len,
  ROUND(CASE WHEN len(string_split({_NORM}, ' ')) > 0
        THEN CAST(len(list_filter(string_split({_NORM}, ' '),
             t -> list_contains(['the','a','of','and','to','in','is','it'], t))) AS DOUBLE)
             / len(string_split({_NORM}, ' '))
        ELSE 0.0 END, 6) AS stopword_ratio,
  ROUND(CASE WHEN LENGTH(text) > 0
        THEN CAST(LENGTH(REGEXP_REPLACE(text, '[^.,;:!?]', '', 'g')) AS DOUBLE)
             / LENGTH(text)
        ELSE 0.0 END, 6) AS punct_ratio
FROM documents
"""


@register("text_quality_stats", TEXT_STATS_ORACLE)
def text_quality_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality features: lengths, token stats, punctuation and
    stopword ratios — all JVM builtins, one codegen stage."""
    d = read_table(spark, sf_dir, "documents")
    q = quality_columns("text")
    return d.select(
        "doc_id",
        q["n_chars"].alias("n_chars"),
        q["n_tokens"].alias("n_tokens"),
        q["avg_token_len"].alias("avg_token_len"),
        q["stopword_ratio"].alias("stopword_ratio"),
        q["punct_ratio"].alias("punct_ratio"),
    )


LANG_ID_ORACLE = f"""
SELECT doc_id,
  CASE
    WHEN list_contains(string_split({_NORM}, ' '), 'the')
      OR list_contains(string_split({_NORM}, ' '), 'and')
      OR list_contains(string_split({_NORM}, ' '), 'of') THEN 'en'
    WHEN list_contains(string_split({_NORM}, ' '), 'der')
      OR list_contains(string_split({_NORM}, ' '), 'und')
      OR list_contains(string_split({_NORM}, ' '), 'das') THEN 'de'
    WHEN list_contains(string_split({_NORM}, ' '), 'le')
      OR list_contains(string_split({_NORM}, ' '), 'et')
      OR list_contains(string_split({_NORM}, ' '), 'la') THEN 'fr'
    ELSE 'unknown'
  END AS lang_guess,
  lang AS lang_label
FROM documents
"""


@register("text_lang_id", LANG_ID_ORACLE)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-token language-ID heuristic next to the ground-truth label."""
    d = read_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        lang_id_heuristic("text").alias("lang_guess"),
        F.col("lang").alias("lang_label"),
    )


TOKEN_COUNT_ORACLE = f"""
SELECT doc_id,
  len(string_split({_NORM}, ' ')) AS ws_tokens,
  len(regexp_extract_all(text, '{BPE_TOKEN_PATTERN}')) AS bpe_tokens
FROM documents
"""


@register("text_token_count", TOKEN_COUNT_ORACLE)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace + BPE-ish-regex token counting (LLM budget proxy)."""
    d = read_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        token_count("text").alias("ws_tokens"),
        bpe_token_count("text").alias("bpe_tokens"),
    )


FINGERPRINT_ORACLE = f"""
SELECT doc_id, md5({_NORM}) AS fp FROM documents
"""


@register("text_fingerprint", FINGERPRINT_ORACLE)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprint of normalized text."""
    d = read_table(spark, sf_dir, "documents")
    return d.select("doc_id", fingerprint("text").alias("fp"))


STATS_BY_SOURCE_ORACLE = f"""
SELECT lang, source,
  COUNT(*) AS n_docs,
  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
  ROUND(AVG(LENGTH(text)), 4) AS avg_len,
  CAST(SUM(len(string_split({_NORM}, ' '))) AS BIGINT) AS total_tokens
FROM documents
GROUP BY lang, source
"""


@register("text_stats_by_source", STATS_BY_SOURCE_ORACLE)
def text_stats_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus composition: per (lang, source) doc/char/token totals."""
    d = read_table(spark, sf_dir, "documents")
    return d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        F.round(F.avg(F.length("text")), 4).alias("avg_len"),
        F.sum(token_count("text")).cast("bigint").alias("total_tokens"),
    )


MULTIMODAL_META_ORACLE = """
SELECT doc_id,
  octet_length(encode(text)) AS n_bytes,
  md5(text) AS payload_hash
FROM documents
"""


@register("multimodal_metadata", MULTIMODAL_META_ORACLE)
def multimodal_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque-binary-column plumbing: payload as binary + typed metadata.
    (Real image/audio payloads are opaque bytes exactly like this; decode is
    a mapInPandas stage — see operators/multimodal.py.)"""
    d = read_table(spark, sf_dir, "documents")
    payload = F.col("text").cast("binary")
    return d.select(
        "doc_id",
        F.length(payload).cast("bigint").alias("n_bytes"),
        F.md5(payload).alias("payload_hash"),
    )


def _as_multimodal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents.text bytes as the opaque payload column (the real thing IS
    opaque bytes; only the decoder differs — it's injected)."""
    d = read_table(spark, sf_dir, "documents")
    return d.select(
        F.col("doc_id").alias("item_id"),
        F.lit("image").alias("modality"),
        F.col("text").cast("binary").alias("payload"),
    )


@register("multimodal_decode_resize", None)  # mapInPandas plumbing → rows-only
def multimodal_decode_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """decode (stub) → nearest-neighbor resize 8×8 → 4×4: the full image
    pipeline shape with a deterministic fake decoder (no codecs in
    container); pytest asserts shapes/values, driver checks rows+schema."""
    mm = _as_multimodal(spark, sf_dir)
    return resize_decoded(decode_payload(mm, fake_decoder), 4, 4)


@register("multimodal_features", None)  # mapInPandas plumbing → rows-only
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """payload → md5-derived feature vector (array<float>), metadata attached
    JVM-side before the Python stage so pruning happens pre-decode.

    Driver-facing projection is SCALAR-only (the harness canonicalizes via
    pandas sort_values over all columns; an array<float> column is unhashable
    there — VERDICT r3 #1). The array API stays in operators/multimodal.py;
    here the vector is digested to md5 + its dimension."""
    mm = attach_payload_metadata(_as_multimodal(spark, sf_dir))
    feats = extract_features(mm.where(F.col("n_bytes") > 0), dim=16)
    return feats.select(
        "item_id",
        F.size("feature").cast("int").alias("feat_dim"),
        F.md5(F.col("feature").cast("string")).alias("feature_md5"),
    )


@register("multimodal_frame_sample", None)  # 1→N fan-out → rows-only
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """video-style frame sampling: 1 payload → ≤4 evenly-spaced frames."""
    mm = _as_multimodal(spark, sf_dir)
    return sample_frames(mm, 4)


GROUPED_ZSCORE_ORACLE = """
SELECT doc_id, source,
  ROUND(
    CASE WHEN stddev_samp(n_chars) OVER (PARTITION BY source) > 0
         THEN (n_chars - avg(n_chars) OVER (PARTITION BY source))
              / stddev_samp(n_chars) OVER (PARTITION BY source)
    END, 4) + 0.0 AS z_len
FROM documents
"""


@register("text_grouped_zscore", GROUPED_ZSCORE_ORACLE)
def text_grouped_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source z-score of document length via applyInPandas (grouped-map
    Arrow UDF) — the north-star custom-UDAF surface (SURVEY.md §2.8),
    hash-matched against the pure-SQL window form. Each group arrives as ONE
    pandas frame: state needed per group is O(group); for groups beyond
    executor memory the window-function form (the oracle) IS the scale path
    — this operator exists for logic SQL can't express, verified here on
    logic it can."""
    import pandas as pd

    d = read_table(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")

    def zscore(pdf: pd.DataFrame) -> pd.DataFrame:
        mu = pdf["n_chars"].mean()
        sd = pdf["n_chars"].std(ddof=1)
        z = (pdf["n_chars"] - mu) / sd if pd.notna(sd) and sd > 0 else pd.NA
        return pd.DataFrame(
            {"doc_id": pdf["doc_id"], "source": pdf["source"],
             "z_len": pd.Series(z, dtype="float64").round(4) + 0.0}
        )

    return d.groupBy("source").applyInPandas(
        zscore, "doc_id bigint, source string, z_len double"
    )


ARRAY_FUNCS_ORACLE = """
SELECT vec_id,
       len(embedding)                                          AS dim,
       ROUND(CAST(list_max(embedding) AS DOUBLE), 4) + 0.0     AS max_v,
       ROUND(CAST(list_min(embedding) AS DOUBLE), 4) + 0.0     AS min_v,
       ROUND(CAST(list_sum(CAST(embedding AS DOUBLE[])) AS DOUBLE), 4) + 0.0 AS sum_v,
       ROUND(CAST(embedding[1] AS DOUBLE), 4) + 0.0            AS first_v,
       ROUND(CAST(list_sum(CAST(list_slice(embedding, 1, 8) AS DOUBLE[])) AS DOUBLE), 4) + 0.0
                                                               AS head_sum
FROM embeddings
"""


@register("array_functions", ARRAY_FUNCS_ORACLE)
def array_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-builtin sweep over the embedding column (§2.9 multimodal/vector
    schema): size/min/max/sum/index/slice — all JVM array expressions, the
    primitives the vector and multimodal operators compose."""
    e = read_table(spark, sf_dir, "embeddings")
    as_dbl = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    list_sum = lambda arr: F.aggregate(arr, F.lit(0.0), lambda a, x: a + x)

    # + 0.0 normalizes IEEE signed zero: ROUND of a tiny negative yields
    # -0.0 in one engine and 0.0 in the other, which hash-compare as
    # different formatted values ('-0' vs '0'); x + 0.0 is +0.0 in both.
    def r4(col):
        return (F.round(col, 4) + F.lit(0.0)).alias

    return e.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        r4(F.array_max("embedding").cast("double"))("max_v"),
        r4(F.array_min("embedding").cast("double"))("min_v"),
        r4(list_sum(as_dbl))("sum_v"),
        r4(F.col("embedding").getItem(0).cast("double"))("first_v"),
        r4(list_sum(F.slice(as_dbl, 1, 8)))("head_sum"),
    )


@register("text_sentence_split_udtf", None)  # Python UDTF → rows-only
def text_sentence_split_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1→N sentence chunking via a Spark 4 Python UDTF in a lateral join —
    the chunk step of a chunk→embed→dedup pipeline. Exactness is pytest-
    checked against the pure-python reference (tests/test_udtf.py)."""
    from airflow_dags_spark.functions.udtf import register_sentence_splitter

    register_sentence_splitter(spark)
    read_table(spark, sf_dir, "documents").createOrReplaceTempView("__docs_udtf")
    return spark.sql(
        """
        SELECT d.doc_id, s.sentence_no, s.sentence, s.n_chars
        FROM __docs_udtf d, LATERAL sentence_splitter(d.text) s
        """
    )


@register("multimodal_embed_ann", None)  # stub features + seeded IVF → rows-only
def multimodal_embed_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed modality pipeline: opaque payload → (stub) feature
    extraction → IVF ANN top-5 over the extracted vectors — decode/embed/
    search end-to-end through one plan, proving the multimodal feature
    column feeds the similarity operators without conversion glue."""
    mm = attach_payload_metadata(_as_multimodal(spark, sf_dir))
    feats = extract_features(mm.where(F.col("n_bytes") > 0), dim=16)
    return ivf_ann_topk(
        feats,
        5,
        key_col="item_id",
        vec_col="feature",
        query_filter=F.col("item_id") < 3,
        n_cells=4,
        nprobe=2,
        fit_sample=2000,
    )


TFIDF_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split({_NORM}, ' ')) AS term FROM documents
),
tf AS (
  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM toks WHERE length(term) > 0
  GROUP BY doc_id, term
  HAVING COUNT(*) >= 2
),
dfreq AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS df_docs FROM tf GROUP BY term
),
n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents)
SELECT tf.doc_id, tf.term, tf.tf, dfreq.df_docs,
       ROUND(tf.tf * ln((n.n_docs + 1.0) / (dfreq.df_docs + 1.0)), 6) AS tfidf
FROM tf JOIN dfreq USING (term) CROSS JOIN n
"""


@register("text_tfidf_terms", TFIDF_ORACLE)
def text_tfidf_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document TF-IDF keyword weights (functions/text.py:tfidf_terms):
    explode → tf agg (min_tf=2 prunes singleton terms before the term
    shuffle) → document-frequency agg → broadcast corpus size. All
    surviving terms emitted (no top-k) so the result is order-insensitive
    and exactly oracle-hashable."""
    d = read_table(spark, sf_dir, "documents")
    return tfidf_terms(d, "text", "doc_id", min_tf=2)


CHUNK_ORACLE = f"""
WITH t AS (SELECT doc_id, string_split({_NORM}, ' ') AS toks FROM documents)
SELECT doc_id,
       CAST((i - 1) / 48 AS BIGINT) AS chunk_idx,
       CAST(i AS BIGINT) AS start_pos,
       array_to_string(toks[i:i+63], ' ') AS chunk,
       CAST(len(toks[i:i+63]) AS BIGINT) AS n_tokens
FROM t, LATERAL (
  SELECT unnest(generate_series(1, GREATEST(len(toks), 1), 48)) AS i
)
"""


@register("text_chunk_overlap", CHUNK_ORACLE)
def text_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking, 64-token windows with 16-token overlap
    (functions/text.py:chunk_text) — the context-window splitter before an
    embedding stage. Pure codegen map stage (sequence + slice +
    array_join), zero shuffles."""
    d = read_table(spark, sf_dir, "documents")
    return chunk_text(d, "text", "doc_id", chunk_size=64, overlap=16)


REDACT_ORACLE = """
SELECT doc_id,
       regexp_replace(
         regexp_replace(
           'doc ' || doc_id || ' by user' || doc_id ||
           '@mail.example.org or +44 1865 55' || doc_id || ' end',
           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
         '\\+?\\d[\\d\\- ]{7,}\\d', '<PHONE>', 'g') AS scrubbed
FROM documents
"""


@register("text_redact_pii", REDACT_ORACLE)
def text_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub (functions/text.py:redact_pii): email + phone patterns →
    typed placeholders, a pure JVM regexp_replace chain. The synthetic
    contact string (built from doc_id) guarantees every row actually
    exercises both patterns — the corpus itself contains no PII."""
    from airflow_dags_spark.functions.text import redact_pii

    d = read_table(spark, sf_dir, "documents")
    synth = F.concat(
        F.lit("doc "), F.col("doc_id").cast("string"),
        F.lit(" by user"), F.col("doc_id").cast("string"),
        F.lit("@mail.example.org or +44 1865 55"),
        F.col("doc_id").cast("string"), F.lit(" end"),
    )
    return d.select("doc_id", redact_pii(synth).alias("scrubbed"))


# Training-shard membership is a pure function of the key: the same
# md5-derived 60-bit hash is computable in DuckDB, so shard balance and
# membership are fully oracle-checked (operators/export.py).
SHARD_HIST_ORACLE = """
SELECT ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 16 AS shard,
       CAST(count(*) AS BIGINT) AS cnt,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS distinct_keys
FROM documents
GROUP BY 1
"""


@register("export_shard_histogram", SHARD_HIST_ORACLE)
def export_shard_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-shard assignment (operators/export.py:
    shard_assignment, portable md5 variant) over documents, 16 shards:
    per-shard row count + distinct keys. One hash-partition shuffle with
    map-side partial aggregation; membership reproducible across engines
    and re-runs (the property write_training_shards relies on)."""
    from airflow_dags_spark.operators.export import shard_histogram

    d = read_table(spark, sf_dir, "documents").withColumn(
        "doc_id", F.col("doc_id").cast("string")
    )
    return shard_histogram(d, ["doc_id"], 16)



# The composed curation pipeline: each stage is an operator proven above —
# this query proves they FUSE into one plan (filters in the scan stage, one
# agg shuffle, shard hash on the reduced survivor set).
CURATE_ORACLE = f"""
WITH filtered AS (
  SELECT doc_id, md5({_NORM}) AS content_hash
  FROM documents
  WHERE (list_contains(string_split({_NORM}, ' '), 'the')
      OR list_contains(string_split({_NORM}, ' '), 'and')
      OR list_contains(string_split({_NORM}, ' '), 'of'))
    AND len(string_split({_NORM}, ' ')) >= 24
),
survivors AS (
  SELECT content_hash, MIN(doc_id) AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_copies
  FROM filtered GROUP BY content_hash
)
SELECT content_hash, doc_id, n_copies,
       ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 16 AS shard
FROM survivors
"""


@register("curate_corpus", CURATE_ORACLE)
def curate_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus curation in ONE composed plan: language gate
    (functions/text.py:lang_id_heuristic) + minimum-length gate ->
    operators/dedup.exact_dedup (min-key survivor per content hash) ->
    deterministic training-shard assignment
    (operators/export.py:portable_shard). At 100 TB the gates run in the
    scan's codegen stage, the dedup is the only data shuffle (carrying one
    row per distinct hash), and the shard hash prices only survivors."""
    from airflow_dags_spark.operators.export import portable_shard

    d = read_table(spark, sf_dir, "documents")
    gated = d.where(lang_id_heuristic("text") == "en").where(
        token_count("text") >= 24
    )
    return exact_dedup(gated, "text", "doc_id").select(
        "content_hash",
        "doc_id",
        "n_copies",
        portable_shard(F.col("doc_id").cast("string"), 16).alias("shard"),
    )


GEOMEAN_UDAF_ORACLE = """
SELECT source,
       ROUND(EXP(AVG(LN(CAST(n_chars AS DOUBLE)))), 6) AS geomean_chars,
       CAST(COUNT(*) AS BIGINT) AS n_docs
FROM documents
WHERE n_chars > 0
GROUP BY source
"""


@register("agg_geomean_udaf", GEOMEAN_UDAF_ORACLE)
def agg_geomean_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-agg pandas UDF (the UDAF surface of SURVEY.md §2.8): per-source
    geometric mean of document length — the right average for a heavy-tailed
    length distribution. The UDF receives each group's column as ONE pandas
    Series (Arrow-batched) and returns a scalar; Spark still hash-partitions
    by the grouping key first, so at 100 TB this is one shuffle keyed by
    |groups|, with the Python cost linear in rows and parallel per group."""
    import numpy as np

    # Series -> scalar type hints select the grouped-agg variant; the
    # stringified PEP 563 annotations resolve against module globals, where
    # ``pd`` is imported (the deprecated PandasUDFType enum is gone).
    @F.pandas_udf("double")
    def geomean(v: pd.Series) -> float:
        return float(np.exp(np.log(v.to_numpy()).mean()))

    # Spark disallows mixing a group-agg pandas UDF with built-in aggregates
    # in one agg() — the count rides along as a second pandas UDAF.
    @F.pandas_udf("long")
    def ndocs(v: pd.Series) -> int:
        return len(v)

    d = read_table(spark, sf_dir, "documents")
    return (
        d.where(F.col("n_chars") > 0)
        .groupBy("source")
        .agg(
            F.round(geomean(F.col("n_chars").cast("double")), 6).alias(
                "geomean_chars"
            ),
            ndocs(F.col("n_chars")).alias("n_docs"),
        )
    )


@register("export_pack_sequences", None)  # stateful fold → rows-only
def export_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for training export (operators/export.py:
    pack_sequences): greedy first-fit of documents into 2048-token
    sequences, parallel per deterministic shard. Invariants (each doc
    exactly once; no sequence over budget unless a single doc overflows;
    deterministic assignment) are pytest-enforced in tests/test_export.py."""
    from airflow_dags_spark.functions.text import token_count
    from airflow_dags_spark.operators.export import pack_sequences

    d = read_table(spark, sf_dir, "documents").select(
        "doc_id", token_count("text").alias("n_tokens")
    )
    return pack_sequences(d, "doc_id", "n_tokens", budget=2048, n_shards=8)
