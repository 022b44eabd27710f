"""Deduplication family for training-data pipelines (north-star §2.9).

Five strategies, scale-ranked:

- ``exact_dedup``          — hash-groupBy on md5(normalized text). One
  shuffle on a 128-bit key; survivor = min doc_id (deterministic).
- ``minhash_bands``        — portable md5-salted MinHash band signatures
  (see functions.text.minhash_signature); banding turns near-dup into an
  equi-join on band values — the 100 TB path: shuffle on band, compare only
  within buckets.
- ``minhash_lsh_pairs``    — pyspark.ml MinHashLSH approxSimilarityJoin
  (murmur-based, seeded) for the tuned-recall variant.
- ``simhash``              — 64-bit simhash fingerprint via Arrow-batched
  pandas UDF (md5-derived bit planes, deterministic).
- ``ngram_jaccard_pairs``  — exact Jaccard over word shingles for candidate
  pairs (the verify step after any LSH bucketing).
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import LongType
from pyspark.storagelevel import StorageLevel

from airflow_dags_spark.functions.text import (
    fingerprint,
    jaccard,
    minhash_from_shingles,
    shingles_from_tokens,
    tokens,
    tokens_cased,
)
from airflow_dags_spark.operators.iterate import IterationState

DEFAULT_SALTS = ["b0:", "b1:", "b2:", "b3:"]


def exact_dedup(df: DataFrame, text_col: str, key_col: str) -> DataFrame:
    """Exact dedup on normalized text: one row per distinct content hash,
    survivor = min key (deterministic, unlike dropDuplicates). Map-side
    partial agg shrinks the shuffle to one row per distinct hash."""
    return (
        df.withColumn("__fp", fingerprint(text_col))
        .groupBy("__fp")
        .agg(F.min(key_col).alias(key_col), F.count(F.lit(1)).alias("n_copies"))
        .select(key_col, F.col("__fp").alias("content_hash"), "n_copies")
    )


def minhash_bands(
    df: DataFrame,
    text_col: str,
    key_col: str,
    n_shingle: int = 3,
    salts: list[str] | None = None,
) -> DataFrame:
    """Per-doc MinHash band signature (portable, oracle-checkable).

    Near-dup candidates = docs sharing any band value; downstream that is a
    self-equi-join per band — at 100 TB each band join shuffles on a short
    hex key with heavy bucket pruning, never an all-pairs compare.

    Staged projections (tokens → shingles → bands) keep each expensive array
    expression computed exactly once per row."""
    staged = df.select(
        F.col(key_col), tokens(text_col).alias("__toks")
    ).select(
        key_col, shingles_from_tokens(F.col("__toks"), n_shingle).alias("__sh")
    )
    sig = minhash_from_shingles(F.col("__sh"), salts or DEFAULT_SALTS)
    return staged.select(F.col(key_col), *sig)


def minhash_candidate_pairs(
    df: DataFrame,
    text_col: str,
    key_col: str,
    n_shingle: int = 3,
    salts: list[str] | None = None,
    *,
    bucket_cap: int | None = None,
) -> DataFrame:
    """Band-bucket self-join → distinct candidate pairs (a < b).

    ``bucket_cap`` bounds the quadratic-per-bucket pair count: the LEFT
    side of each bucket's self-join is restricted to the bucket's
    ``bucket_cap`` smallest keys (its REPRESENTATIVES), so a bucket of
    width n emits ≤ cap·n pairs instead of C(n, 2) — linear in bucket
    width. Without it, a boilerplate-heavy corpus whose near-dup
    clusters grow with corpus size makes the candidate join (and any
    downstream exact verify) quadratic: a 30× wider bucket is 900× the
    pairs — measured as exactly that blow-up in the round-13 stress run
    before the cap existed. Semantics of the capped form: pair (a, b)
    survives iff a is among the cap smallest members of a shared bucket
    — for survivor-election (drop b iff SOME smaller near-dup exists)
    the smallest bucket members are precisely the candidate survivors,
    so witness recall loss only occurs when a doc's every true near-dup
    inside a shared bucket ranks below cap false-positive collisions.
    ``None`` (the default) keeps the exact all-pairs-per-bucket form for
    callers that need every edge (e.g. connected components)."""
    bands = minhash_bands(df, text_col, key_col, n_shingle, salts)
    n_bands = len(salts or DEFAULT_SALTS)
    stacked = _stack_bands(bands, key_col, n_bands)
    left = stacked
    if bucket_cap is not None:
        if bucket_cap < 1:
            raise ValueError(f"bucket_cap must be >= 1, got {bucket_cap}")
        w = Window.partitionBy("band_idx", "band_val").orderBy(key_col)
        left = (
            stacked.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") <= bucket_cap)
            .drop("__rn")
        )
    a = left.alias("a")
    b = stacked.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col(f"a.{key_col}") < F.col(f"b.{key_col}")),
        )
        .select(
            F.col(f"a.{key_col}").alias("key_a"), F.col(f"b.{key_col}").alias("key_b")
        )
        .distinct()
    )


def _stack_bands(bands: DataFrame, key_col: str, n_bands: int) -> DataFrame:
    """(key, band_0..band_{n-1}) → (key, band_idx, band_val) long form.
    NULL band values (docs with no shingles) survive the stack but drop
    out of any equi-join on band_val, which is the correct screen
    semantics: an empty doc matches nothing."""
    return bands.selectExpr(
        key_col,
        "stack({n}, {args}) AS (band_idx, band_val)".format(
            n=n_bands,
            args=", ".join(f"{i}, band_{i}" for i in range(n_bands)),
        ),
    )


def minhash_incremental_screen(
    store_bands: DataFrame,
    new_df: DataFrame,
    text_col: str,
    key_col: str,
    n_shingle: int = 3,
    salts: list[str] | None = None,
    *,
    new_bands: DataFrame | None = None,
) -> DataFrame:
    """Screen newly-arriving documents against an EXISTING MinHash
    signature store without re-signing the corpus — the streaming-ingest
    analog of Bloom-screened insert.

    ``store_bands`` is a frame of previously persisted signatures
    (``key_col``, ``band_0``..``band_{n-1}`` — the output of
    :func:`minhash_bands`, typically read back from parquet). Only
    ``new_df`` is tokenized and hashed; candidates are new docs sharing
    any band value with a store doc whose key is NOT itself in the batch —
    the screen sees the store AS OF BEFORE the batch, so an at-least-once
    replay (even one whose append already landed) reproduces the identical
    result. Returns one row per NEW doc:
    ``(key_col, matched_store_doc, n_matching_bands)`` with
    ``matched_store_doc`` = min qualifying store key sharing a band (NULL
    when the doc is novel) so callers can route novel docs into the store
    and candidates into exact verification (:func:`ngram_jaccard`).

    100 TB shape: per-row hashing on the new partition only; ONE band
    equi-join whose shuffle is bounded by signature bytes (never document
    text, never all-pairs); a grouped agg over hit rows. The store side
    never re-tokenizes at steady state — signing cost is paid once per
    document lifetime, the property that makes continuous dedup-at-ingest
    affordable against a corpus that only grows.

    Callers that also need the new signatures afterwards (the store-append
    path — operators.ingest.MinhashSignatureStore) pass them precomputed
    via ``new_bands`` so each document is signed exactly once."""
    n_bands = len(salts or DEFAULT_SALTS)
    if new_bands is None:
        new_bands = minhash_bands(new_df, text_col, key_col, n_shingle, salts)
    # Screen semantics: "the store AS OF BEFORE this batch". Store rows
    # whose key appears in the batch are excluded ENTIRELY (not just
    # self-matches): at-least-once delivery can replay a batch whose
    # append already landed, and under key-only self-exclusion two
    # intra-batch near-dups would then flag against each other's
    # just-stored signatures — a routing the first run never produced.
    # Batch-key exclusion makes the screen a pure function of (pre-batch
    # store, batch), identical on every replay of the same batch no
    # matter where a crash fell.
    #
    # Known recall tradeoff: a batch that legitimately RE-DELIVERS an old
    # key K (stored long ago) alongside a new near-dup of K has K's store
    # rows excluded, so the near-dup screens as novel. Dedup re-delivered
    # old keys upstream (anti-join the batch against the store's keys), or
    # run a second advisory pass against the excluded-but-preexisting
    # store rows — see streaming/pipeline.py:screened_ingest_sink.
    batch_keys = new_bands.select(F.col(key_col).alias("__batch_key")).distinct()
    st = (
        _stack_bands(store_bands, key_col, n_bands)
        .select(F.col(key_col).alias("__store_key"), "band_idx", "band_val")
        .join(
            batch_keys,
            F.col("__store_key") == F.col("__batch_key"),
            "left_anti",
        )
    )
    nw = _stack_bands(new_bands, key_col, n_bands)
    hits = (
        nw.join(st, ["band_idx", "band_val"])
        .groupBy(key_col)
        .agg(
            F.min("__store_key").alias("matched_store_doc"),
            F.count_distinct("band_idx").cast("bigint")
            .alias("n_matching_bands"),
        )
    )
    return new_bands.select(key_col).join(hits, key_col, "left").select(
        key_col,
        "matched_store_doc",
        F.coalesce("n_matching_bands", F.lit(0)).cast("bigint")
        .alias("n_matching_bands"),
    )


def minhash_redelivery_advisory(
    store_bands: DataFrame,
    new_bands: DataFrame,
    key_col: str,
    n_bands: int,
) -> DataFrame:
    """Second ADVISORY pass over exactly the store rows the
    replay-deterministic screen excludes (store rows keyed by batch
    members) — the mitigation ADVICE r7 proposed for the cross-batch
    recall loss of batch-key exclusion.

    When a batch legitimately re-delivers an old key K alongside a new
    near-dup D of K, :func:`minhash_incremental_screen` excludes K's
    store rows from D's screen, so D routes as novel and is accepted
    permanently. This pass band-joins the batch signatures against ONLY
    those excluded-but-preexisting store rows and reports the hits as
    flags-after-the-fact: ``(key_col, advisory_matched_store_doc,
    n_matching_bands)``, one row per batch key that matches an excluded
    store row OTHER than its own (a re-delivered key matching its own
    stored signature is expected, not a near-dup signal).

    Advisory means: routing is unchanged — the main screen stays a pure
    function of (pre-batch store, batch), so replay determinism is
    untouched; callers persist these flags for out-of-band exact
    verification (``ngram_jaccard``) or audit.

    Replay purity of the ADVISORY itself: store rows that are
    byte-identical to a batch member's own full signature (same key, same
    every band) are excluded too. Those are exactly the rows a
    crashed-run append of THIS batch would have created (the append is
    keyed insert-if-absent, so new keys land with their batch signatures
    and old keys keep their stored ones) — without this exclusion, a
    replay after a landed append would read the batch's own signatures
    back as "preexisting" and emit intra-batch false flags the first run
    never produced. The only thing the exclusion can hide is a genuinely
    old row identical to a re-delivered member's signature — but any
    near-dup it would have flagged is by construction ALSO a member of
    this batch, i.e. an intra-batch pair, which is
    ``minhash_candidate_pairs``' job (the screen contract's documented
    pre-step), not this pass's.

    100 TB shape: the semi-join prunes the store side to at most the
    batch's own key count before the band join, so this pass is bounded
    by batch size regardless of store size."""
    batch_keys = new_bands.select(F.col(key_col).alias("__batch_key")).distinct()
    band_cols = [f"band_{i}" for i in range(n_bands)]
    # drop rows identical to the batch's own signatures (see docstring)
    preexisting = store_bands.join(
        new_bands.select(key_col, *band_cols),
        [key_col, *band_cols],
        "left_anti",
    )
    excluded = (
        _stack_bands(preexisting, key_col, n_bands)
        .select(F.col(key_col).alias("__store_key"), "band_idx", "band_val")
        .join(
            batch_keys,
            F.col("__store_key") == F.col("__batch_key"),
            "left_semi",
        )
    )
    nw = _stack_bands(new_bands, key_col, n_bands)
    return (
        nw.join(excluded, ["band_idx", "band_val"])
        .where(F.col(key_col) != F.col("__store_key"))  # self-matches expected
        .groupBy(key_col)
        .agg(
            F.min("__store_key").alias("advisory_matched_store_doc"),
            F.count_distinct("band_idx").cast("bigint")
            .alias("n_matching_bands"),
        )
    )


def duplicated_spans(
    df: DataFrame,
    text_col: str,
    key_col: str,
    n_shingle: int = 8,
    min_run: int = 2,
) -> DataFrame:
    """SUBSTRING-grain dedup: maximal per-document token spans whose
    n-token shingles ALL occur in at least one other document — the
    distributed stand-in for suffix-array exact-substring dedup (Lee et
    al. 2022, "Deduplicating Training Data Makes Language Models Better"):
    a cross-document duplicated substring of length L ≥ n produces a run
    of L − n + 1 consecutive duplicated shingles, so maximal runs of
    duplicated shingle positions recover the duplicated spans (up to the
    shingle grain) without any suffix structure.

    Completes the dedup family's grain ladder: document (exact/MinHash/
    SimHash), chunk (rag_chunk_dedup), and now SPAN — the tier that
    catches boilerplate repeated inside otherwise-unique documents, which
    whole-doc and chunk fingerprints both miss.

    Returns one row per maximal run of ≥ ``min_run`` consecutive
    duplicated shingle positions: ``(key_col, span_start, span_end,
    n_shingles)`` with 0-based token indices, ``span_end`` inclusive
    (``span_end - span_start + 1`` = span length in tokens).

    Scale shape (100 TB): tokenize + position-preserving shingle-hash is
    one narrow codegen map (md5 32-hex per position — positions shuffle
    as (key, int), never text); the cross-document test is ONE hash
    aggregation on the shingle hash (count_distinct doc, map-side
    partial); duplicated positions come back via a semi-join on the hash
    (bucket-pruned — only duplicated shingles cross); the run assembly is
    a per-document window (partitions bounded by document length) over
    the classic gaps-and-islands ``pos − row_number`` key. Hot shingles
    (boilerplate that appears in millions of docs) skew the semi-join's
    build side only as DISTINCT hashes — the positions stay on the probe
    side — and AQE skew-join handles residual imbalance. Nothing is
    all-pairs; nothing shuffles document text."""
    if n_shingle < 1:
        raise ValueError(f"n_shingle must be >= 1, got {n_shingle}")
    if min_run < 1:
        raise ValueError(f"min_run must be >= 1, got {min_run}")
    # cheap scan-stage guard on the raw tokenization (the established
    # pattern from minhash_lsh_pairs: a filter on a derived array column
    # would get predicate-pushed below the staging projection and inline
    # the whole pipeline at the scan)
    staged = df.where(F.size(tokens(text_col)) >= n_shingle).select(
        F.col(key_col), tokens(text_col).alias("__toks")
    )
    # position-preserving shingle hashes (array_distinct would destroy the
    # run structure — this is deliberately NOT shingles_from_tokens)
    shingle = lambda i: F.md5(  # noqa: E731
        F.concat_ws(" ", *[F.element_at(F.col("__toks"), i + j) for j in range(n_shingle)])
    )
    idx = F.sequence(F.lit(1), F.size("__toks") - (n_shingle - 1))
    pos_sh = staged.select(
        key_col,
        F.posexplode(F.transform(idx, shingle)).alias("__pos", "__sh"),
    )
    dup = (
        pos_sh.groupBy("__sh")
        .agg(F.count_distinct(key_col).alias("__nd"))
        .where(F.col("__nd") >= 2)
        .select("__sh")
    )
    hits = pos_sh.join(dup, "__sh", "left_semi")
    w = Window.partitionBy(key_col).orderBy("__pos")
    islands = hits.withColumn(
        "__grp", F.col("__pos") - F.row_number().over(w)
    )
    return (
        islands.groupBy(key_col, "__grp")
        .agg(
            F.min("__pos").cast("bigint").alias("span_start"),
            (F.max("__pos") + F.lit(n_shingle - 1)).cast("bigint").alias("span_end"),
            F.count(F.lit(1)).cast("bigint").alias("n_shingles"),
        )
        .where(F.col("n_shingles") >= min_run)
        .select(key_col, "span_start", "span_end", "n_shingles")
    )


def remove_duplicated_spans(
    df: DataFrame,
    text_col: str,
    key_col: str,
    n_shingle: int = 8,
    min_run: int = 2,
) -> DataFrame:
    """The ACTIONABLE tier over :func:`duplicated_spans`: rewrite each
    document with its non-owned duplicated spans removed, keeping exactly
    ONE copy of every exactly-duplicated span corpus-wide.

    Policy (conservative, deterministic):
    - spans are grouped by their exact TOKEN CONTENT (md5 of the span's
      token slice); the OWNER of a content group is the
      (min key, min span_start) occurrence — the same min-key survivor
      discipline as every other dedup surface;
    - every non-owner occurrence has its tokens removed; the owner keeps
      its copy. Spans with no exact twin elsewhere (partial-overlap runs
      whose maximal extents differ) are KEPT everywhere — removal never
      destroys content that exists nowhere else, the property that makes
      the operator safe to run unsupervised on training data.

    Returns one row per input document:
    ``(key_col, n_tokens, n_tokens_removed, clean_text)`` where
    ``clean_text`` is the whitespace-normalized but CASE-PRESERVING
    reconstruction: span DETECTION runs on lowercased tokens (the
    engine-wide normalized form, so "The Same Boilerplate" and "the same
    boilerplate" dedup together) while the REBUILD re-assembles the
    original-case tokens — positions align because lower() never changes
    whitespace. A rewrite that lowercased every surviving document would
    silently destroy case information corpus-wide (documents with NULL
    text pass through with NULL clean_text and zero counts).

    Scale shape: inherits :func:`duplicated_spans`' shuffles, plus one
    groupBy on the span content hash (rows = spans, not tokens), one
    broadcast-able join of removal intervals back to the doc tokens (the
    interval side is spans-only), and one per-document reassembly
    aggregation (partitions bounded by document length). Document text
    crosses an exchange exactly once — inside the final per-doc
    collect_list of (pos, token) — the unavoidable cost of rewriting."""
    spans = duplicated_spans(df, text_col, key_col, n_shingle, min_run)
    toks = df.select(
        F.col(key_col), tokens(text_col).alias("__toks")
    )
    content = spans.join(toks, key_col).select(
        key_col,
        "span_start",
        "span_end",
        F.md5(
            F.concat_ws(
                " ",
                F.slice(
                    "__toks",
                    F.col("span_start").cast("int") + 1,
                    (F.col("span_end") - F.col("span_start") + 1).cast("int"),
                ),
            )
        ).alias("__content"),
    )
    owners = content.groupBy("__content").agg(
        F.min(
            F.struct(
                F.col(key_col).alias("k"), F.col("span_start").alias("s")
            )
        ).alias("o"),
        F.count(F.lit(1)).alias("__n_occ"),
    )
    losers = (
        content.join(owners, "__content")
        .where(
            (F.col("__n_occ") >= 2)
            & ~(
                (F.col(key_col) == F.col("o.k"))
                & (F.col("span_start") == F.col("o.s"))
            )
        )
        .select(
            F.col(key_col).alias("__rk"),
            F.col("span_start").alias("__rs"),
            F.col("span_end").alias("__re"),
        )
    )
    # the rebuild explodes CASE-PRESERVING tokens (same positions as the
    # lowercased detection tokens — lower() never changes whitespace)
    pos_tok = df.select(
        F.col(key_col),
        F.posexplode(tokens_cased(text_col)).alias("__pos", "__tok"),
    )
    kept = pos_tok.join(
        losers,
        (F.col(key_col) == F.col("__rk"))
        & (F.col("__pos") >= F.col("__rs"))
        & (F.col("__pos") <= F.col("__re")),
        "left_anti",
    )
    rebuilt = kept.groupBy(key_col).agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("__pos"), F.col("__tok")))
                ),
                lambda s: s["__tok"],
            ),
        ).alias("clean_text"),
        F.count("__tok").cast("bigint").alias("__n_kept"),
    )
    # left-join back to the FULL doc list: NULL-text docs never explode a
    # row, and a doc whose every token was removed vanishes from the
    # groupBy — both must still appear in the output (NULL clean_text)
    # size(NULL array) is -1 in non-ANSI Spark — the null-text count must
    # be an explicit 0, not a sentinel leaking into the arithmetic
    base = df.select(
        F.col(key_col),
        F.when(F.col(text_col).isNull(), F.lit(0))
        .otherwise(F.size(tokens(text_col)))
        .cast("bigint")
        .alias("__nt"),
    )
    return (
        base.join(rebuilt, key_col, "left")
        .select(
            key_col,
            F.coalesce("__nt", F.lit(0)).cast("bigint").alias("n_tokens"),
            (
                F.coalesce("__nt", F.lit(0))
                - F.coalesce("__n_kept", F.lit(0))
            )
            .cast("bigint")
            .alias("n_tokens_removed"),
            F.when(
                F.coalesce("__n_kept", F.lit(0)) > 0, F.col("clean_text")
            ).alias("clean_text"),
        )
    )


def ngram_jaccard(
    pairs: DataFrame, left_text: str, right_text: str, n_shingle: int = 3
) -> DataFrame:
    """Exact shingle-Jaccard for candidate pairs (the LSH verify step).
    Shingle sets are staged so each side tokenizes once per row."""
    staged = pairs.withColumns(
        {"__ta": tokens(left_text), "__tb": tokens(right_text)}
    ).withColumns(
        {
            "__sa": shingles_from_tokens(F.col("__ta"), n_shingle),
            "__sb": shingles_from_tokens(F.col("__tb"), n_shingle),
        }
    )
    return staged.withColumn(
        "jaccard", F.round(jaccard(F.col("__sa"), F.col("__sb")), 6)
    ).drop("__ta", "__tb", "__sa", "__sb")


def ngram_containment(
    pairs: DataFrame, left_text: str, right_text: str, n_shingle: int = 3
) -> DataFrame:
    """Asymmetric containment for candidate pairs: |A∩B| / |A| and / |B|.

    Jaccard misses SUBSET duplication — a document quoted whole inside a
    10× larger one scores J ≈ 0.1 (kept) while containment_a = 1.0 (the
    small doc adds nothing new). The standard curation rule drops a doc
    when its own containment exceeds the threshold; this returns BOTH
    directions plus Jaccard so callers pick the policy. Same staging shape
    as ``ngram_jaccard`` (tokenize once per side, JVM array intersects),
    same candidates-only contract: run after banding/LSH, never all-pairs."""
    staged = pairs.withColumns(
        {"__ta": tokens(left_text), "__tb": tokens(right_text)}
    ).withColumns(
        {
            "__sa": shingles_from_tokens(F.col("__ta"), n_shingle),
            "__sb": shingles_from_tokens(F.col("__tb"), n_shingle),
        }
    )
    # shingles_from_tokens already emits distinct-element arrays
    inter = F.size(F.array_intersect(F.col("__sa"), F.col("__sb")))
    size_a = F.size(F.col("__sa"))
    size_b = F.size(F.col("__sb"))
    safe = lambda num, den: F.when(den > 0, F.round(num / den, 6)).otherwise(
        F.lit(None)
    )
    return (
        staged.withColumn("containment_a", safe(inter, size_a))
        .withColumn("containment_b", safe(inter, size_b))
        .withColumn("jaccard", F.round(jaccard(F.col("__sa"), F.col("__sb")), 6))
        .drop("__ta", "__tb", "__sa", "__sb")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    key_col: str,
    *,
    n_shingle: int = 3,
    num_hash_tables: int = 8,
    jaccard_threshold: float = 0.5,
    num_features: int = 1 << 18,
    seed: int = 42,
) -> DataFrame:
    """Near-dup pairs via pyspark.ml MinHashLSH (seeded murmur hashes; not
    engine-portable → rows-only correctness check, pytest-verified recall).

    Featurization is n-token SHINGLES, not unigrams — unigram feature sets
    collide on shared vocabulary (template-generated corpora all look alike
    bag-of-words-wise: measured 11.6M candidate pairs from 5k synthetic docs
    at threshold 0.3), while shingle sets are discriminative and consistent
    with minhash_bands/ngram_jaccard. approxSimilarityJoin distance =
    1 - Jaccard(shingle sets).

    DELIBERATE trade-off: ``tokens(text_col)`` is evaluated twice per row —
    once in the scan-stage length filter and once in the staged projection.
    The doubled split cost is the cheap side of the bargain: filtering on
    the derived ``size(__shingles)`` instead gets predicate-pushed below
    the staging projection and re-evaluates the WHOLE shingle pipeline with
    inlined tokenization at the scan (measured 10× slower on the round-8
    est-error query). Do not "optimize" the filter back onto the derived
    column."""
    from pyspark.ml.feature import HashingTF, MinHashLSH

    # stage tokens into their own projection (shingles_from_tokens's
    # contract: an inlined split re-tokenizes O(tokens × shingles) times),
    # and guard with the CHEAP predicate size(tokens) >= n — a filter on
    # size(__shingles) gets predicate-pushed below the projection and
    # re-evaluates the whole shingle expression inline at the scan
    # (measured 10× on the round-8 est-error query)
    docs = (
        df.where(F.size(tokens(text_col)) >= n_shingle)
        .select(key_col, tokens(text_col).alias("__toks"))
        .select(
            key_col,
            shingles_from_tokens(F.col("__toks"), n_shingle).alias("__shingles"),
        )
    )
    featurized = HashingTF(
        inputCol="__shingles", outputCol="__features", numFeatures=num_features
    ).transform(docs)
    model = MinHashLSH(
        inputCol="__features", outputCol="__hashes", numHashTables=num_hash_tables, seed=seed
    ).fit(featurized)
    # Materialize the hashed frame ONCE (lazy DISK_ONLY local checkpoint)
    # and hand it to BOTH join sides pre-transformed: approxSimilarityJoin
    # consumes each side through explode + hash-equality join + distance
    # stages, and without a barrier every branch re-evaluates the whole
    # tokenize→shingle→TF→minhash pipeline — measured 27.5 s vs 2.4 s for
    # the identical 5.5k-pair result at sf0.1 (r10). Per-invocation
    # state: each call re-featurizes from its input; DISK_ONLY keeps the
    # (key, sparse-features, 8-hash) rows off the executor heap. Tradeoff
    # (ADVICE r10): non-reliable storage + truncated lineage — an executor
    # loss is unrecoverable and the O(|corpus|) hashed frame lands on
    # executor-local disk; at lake scale prefer minhash_candidate_pairs
    # (engine-owned, prunable — see SCALE.md "Known costs accepted").
    hashed = model.transform(featurized).localCheckpoint(
        eager=False, storageLevel=StorageLevel.DISK_ONLY
    )
    joined = model.approxSimilarityJoin(
        hashed, hashed, 1.0 - jaccard_threshold, distCol="__dist"
    )
    return (
        joined.where(F.col(f"datasetA.{key_col}") < F.col(f"datasetB.{key_col}"))
        .select(
            F.col(f"datasetA.{key_col}").alias("key_a"),
            F.col(f"datasetB.{key_col}").alias("key_b"),
            F.round(1.0 - F.col("__dist"), 6).alias("est_jaccard"),
        )
        .distinct()
    )


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    *,
    node_col: str = "node",
    key_a: str = "key_a",
    key_b: str = "key_b",
    max_iter: int = 25,
    state_dir: str | None = None,
) -> DataFrame:
    """Duplicate CLUSTERS from near-dup candidate pairs: connected components
    by iterative min-label propagation. Returns (node_col, component) where
    ``component`` = min node id reachable from the node (singletons map to
    themselves) — a deterministic cluster id, so the result is exact and
    oracle-checkable (DuckDB recursive CTE).

    Each round does BOTH (a) neighbor propagation — every node adopts
    min(own label, neighbors' labels) — and (b) pointer jumping — adopts its
    label's label (``comp[comp]``, well-defined because labels are always
    node ids). Propagation alone needs O(diameter) rounds; pointer jumping
    halves label-chain distance per round → O(log diameter) rounds total.
    Labels only decrease, so the loop stops after the first round that
    changes no label, counted by an aggregate observed on that round's
    state write. Raises ``RuntimeError`` when labels are still changing
    after ``max_iter`` rounds: the labels would not be minimal.

    Runs on ``operators/iterate.py``, which owns ``state_dir`` (default:
    the session checkpoint dir, else a driver-local temp dir), the parquet
    double buffer that truncates lineage each round, and the cleanup.
    """
    with IterationState(nodes.sparkSession, state_dir, "cc") as it:
        sym = it.materialize(
            edges.select(F.col(key_a).alias("src"), F.col(key_b).alias("dst"))
            .unionByName(
                edges.select(F.col(key_b).alias("src"), F.col(key_a).alias("dst"))
            ),
            "sym",
        )

        def step(labels: DataFrame):
            neigh = (
                sym.join(labels, sym.src == labels.node)
                .groupBy(F.col("dst").alias("node2"))
                .agg(F.min("comp").alias("nmin"))
            )
            jump = labels.toDF("jnode", "jcomp")
            comp = F.col("comp")
            lowest = F.least(comp, F.coalesce("nmin", comp), F.coalesce("jcomp", comp))
            staged = (
                labels.join(neigh, labels.node == F.col("node2"), "left")
                .join(jump, labels.comp == F.col("jnode"), "left")
                .select("node", comp.alias("__old"), lowest.alias("comp"))
            )
            return staged, F.count_if(F.col("comp") != F.col("__old"))

        labels, converged = it.run(
            nodes.select(F.col(node_col).alias("node"), F.col(node_col).alias("comp")),
            step,
            lambda changed: changed == 0,
            max_iter,
        )
        if not converged:
            raise RuntimeError(
                f"connected_components: labels still changing after {max_iter=} rounds"
            )
    return labels.toDF(node_col, "component")


# SimHash ---------------------------------------------------------------------

SIMHASH_BITS = 60  # fits a signed 64-bit long without overflow


def _simhash_one(text: str | None) -> int | None:
    """Scalar reference implementation (kept for property tests — the
    vectorized batch path below must agree with it bit-for-bit)."""
    if text is None:
        return None
    toks = " ".join(text.strip().lower().split()).split(" ")
    if toks == [""]:
        return 0
    counts = [0] * SIMHASH_BITS
    for t in toks:
        h = int(hashlib.md5(t.encode("utf-8")).hexdigest()[:15], 16)  # 60 bits
        for i in range(SIMHASH_BITS):
            counts[i] += 1 if (h >> i) & 1 else -1
    out = 0
    for i in range(SIMHASH_BITS):
        if counts[i] > 0:
            out |= 1 << i
    return out


# chunk bound for the per-chunk (tokens × 60) bit matrix: 2^18 tokens
# × 60 bits × 4 B ≈ 63 MB peak, independent of Arrow batch size
_SIMHASH_CHUNK_TOKENS = 1 << 18


def _simhash_batch(texts: pd.Series) -> pd.Series:
    """Vectorized batch SimHash: md5 once per UNIQUE token per batch, then
    numpy for all bit work (unpackbits + reduceat per-document bit sums) —
    the per-token × 60-bit Python inner loop of the scalar form is gone.
    Output is bit-identical to :func:`_simhash_one`."""
    n = len(texts)
    res: list[int | None] = [None] * n
    flat: list[str] = []
    # (series position, flat start, flat end) per doc with ≥1 token; docs
    # are CONTIGUOUS in `flat` by construction
    bounds: list[tuple[int, int, int]] = []
    for pos, text in enumerate(texts):
        if text is None or (isinstance(text, float) and pd.isna(text)):
            continue
        # equivalent to the scalar form's join/resplit: .split() collapses
        # all whitespace; whitespace-only text has no tokens → fingerprint 0
        toks = text.lower().split()
        if not toks:
            res[pos] = 0
            continue
        bounds.append((pos, len(flat), len(flat) + len(toks)))
        flat.extend(toks)
    if flat:
        # md5 once per UNIQUE token per batch; factorize does the
        # token→code mapping at C speed (no per-token Python dict loop)
        codes, uniques = pd.factorize(np.asarray(flat, dtype=object))
        uniq_hash = np.fromiter(
            (
                int(hashlib.md5(u.encode("utf-8")).hexdigest()[:15], 16)
                for u in uniques
            ),
            dtype=np.uint64,
            count=len(uniques),
        )
        H = uniq_hash[codes]
        positions = np.asarray([b[0] for b in bounds], dtype=np.int64)
        starts = np.asarray([b[1] for b in bounds], dtype=np.int64)
        ends = np.asarray([b[2] for b in bounds], dtype=np.int64)
        shifts = np.arange(SIMHASH_BITS, dtype=np.uint64)
        # chunk on document boundaries so each reduceat stays within one slice
        doc_at = 0
        while doc_at < len(starts):
            doc_hi = doc_at
            while (
                doc_hi < len(starts)
                and ends[doc_hi] - starts[doc_at] <= _SIMHASH_CHUNK_TOKENS
            ):
                doc_hi += 1
            doc_hi = max(doc_hi, doc_at + 1)  # one oversized doc still processes
            lo, hi = starts[doc_at], ends[doc_hi - 1]
            # bit i of md5-hash h is (h >> i) & 1 == little-endian bit
            # order; astype('<u8') forces little-endian bytes regardless
            # of host byte order
            bits = np.unpackbits(
                H[lo:hi].astype("<u8").view(np.uint8).reshape(-1, 8),
                axis=1,
                bitorder="little",
            )[:, :SIMHASH_BITS]
            # reduceat along axis 0 of a C-ordered (T, 60) array is a
            # known-slow strided path (measured 28× slower) — transpose to
            # (60, T) with each bit row CONTIGUOUS. order="C" is required:
            # astype's default order="K" would keep the transposed view's
            # Fortran layout and land right back on the strided path
            ones = np.add.reduceat(
                bits.T.astype(np.int32, order="C"),
                starts[doc_at:doc_hi] - lo,
                axis=1,
            ).T
            ntok = ends[doc_at:doc_hi] - starts[doc_at:doc_hi]
            counts = 2 * ones.astype(np.int64) - ntok[:, None]
            fps = ((counts > 0).astype(np.uint64) << shifts).sum(axis=1)
            for j, p in enumerate(positions[doc_at:doc_hi]):
                res[p] = int(fps[j])
            doc_at = doc_hi
    return pd.Series(res, dtype=object)


@F.pandas_udf(LongType())
def simhash_udf(texts: pd.Series) -> pd.Series:
    """60-bit SimHash fingerprint, md5-derived (deterministic across runs).
    Arrow-batched and numpy-vectorized; near-dup = small Hamming distance
    between fingerprints."""
    return _simhash_batch(texts)


def simhash(df: DataFrame, text_col: str, key_col: str) -> DataFrame:
    return df.select(key_col, simhash_udf(F.col(text_col)).alias("simhash"))


def prefix_jaccard_join(
    df: DataFrame,
    text_col: str,
    key_col: str,
    threshold: float,
) -> DataFrame:
    """EXACT token-set Jaccard self-join via prefix filtering (the
    SSJoin/PPJoin family, Chaudhuri et al. ICDE'06 / Bayardo et al.
    WWW'07): returns EVERY pair (key_a < key_b) with Jaccard ≥ threshold
    — no candidates-only contract, no MinHash false negatives.

    The pruning theorem: order every record's distinct tokens by one
    GLOBAL total order and keep only the first ``|T| - ⌈t·|T|⌉ + 1``
    tokens (the prefix); any pair with Jaccard ≥ t MUST share at least
    one prefix token. Candidates are therefore the equi-join of prefix
    tokens — never all pairs. The global order used is (document
    frequency ASC, token): rare-first prefixes collide least, which is
    what makes the candidate set small on skewed vocabularies.

    Scale shape: tokenize (narrow) → token df (one agg shuffle ≤ |vocab|)
    → rank join + per-doc re-sort (one shuffle) → prefix explode
    equi-join on token (candidates only; length filter t·|A| ≤ |B| ≤
    |A|/t applied in the join) → exact array_intersect verify (narrow,
    JVM). Nothing is O(n²); the verify touches only candidate pairs.

    Tokens are the engine's canonical whitespace tokens over
    ``normalized`` text (functions/text.py) — oracle-reproducible as
    ``string_split(lower(regexp_replace(trim(x),'\\s+',' ','g')), ' ')``.
    """
    if not (0.0 < threshold <= 1.0):
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    tok = df.select(
        F.col(key_col),
        F.array_distinct(tokens(text_col)).alias("__ts"),
    ).withColumn("__sz", F.size("__ts"))
    tok = tok.where(F.col("__sz") > 0)

    ex = tok.select(key_col, "__sz", F.explode("__ts").alias("__token"))
    dfreq = ex.groupBy("__token").agg(F.count(F.lit(1)).alias("__df"))
    # global order (df ASC, token ASC) → per-doc sorted token structs;
    # prefix length p = sz - ceil(t*sz) + 1
    ordered = (
        ex.join(dfreq, "__token")
        .groupBy(key_col, "__sz")
        .agg(F.array_sort(F.collect_list(F.struct("__df", "__token"))).alias("__ord"))
        .withColumn(
            "__plen",
            (F.col("__sz") - F.ceil(F.lit(threshold) * F.col("__sz")) + 1).cast("int"),
        )
    )
    prefix = ordered.select(
        F.col(key_col),
        F.col("__sz"),
        F.posexplode(F.expr("slice(__ord, 1, __plen)")).alias("__pos", "__p"),
    ).select(
        key_col,
        "__sz",
        (F.col("__pos") + 1).alias("__pos"),
        F.col("__p.__token").alias("__token"),
    )

    a = prefix.select(
        F.col(key_col).alias("key_a"),
        F.col("__sz").alias("__sza"),
        F.col("__pos").alias("__pa"),
        "__token",
    )
    b = prefix.select(
        F.col(key_col).alias("key_b"),
        F.col("__sz").alias("__szb"),
        F.col("__pos").alias("__pb"),
        "__token",
    )
    # PPJoin position filter (Xiao et al. WWW'08): both docs' tokens sort
    # by the SAME global order, so every common token of a qualifying
    # pair sits at/after the pair's first common token in both docs —
    # overlap ≤ 1 + min(|A|−posA, |B|−posB). Jaccard ≥ t needs overlap ≥
    # t/(1+t)·(|A|+|B|); rows whose upper bound can't reach that are
    # pruned BEFORE the distinct (lossless: the bound holds exactly at
    # the pair's first common prefix token, so a qualifying pair always
    # keeps at least that row — and the exact verify re-checks survivors
    # anyway). r10: 2.14M → 1.81M candidates, 15.4 → 11.8 s at sf0.1,
    # oracle-hash-identical vs the brute-force all-pairs form.
    overlap_needed = F.lit(threshold / (1.0 + threshold)) * (
        F.col("__sza") + F.col("__szb")
    )
    overlap_ubound = 1 + F.least(
        F.col("__sza") - F.col("__pa"), F.col("__szb") - F.col("__pb")
    )
    cand = (
        a.join(b, "__token")
        .where(
            (F.col("key_a") < F.col("key_b"))
            # Jaccard ≥ t ⇒ t·|A| ≤ |B| ≤ |A|/t (prunes before distinct)
            & (F.col("__szb") >= F.ceil(F.lit(threshold) * F.col("__sza")))
            & (F.col("__sza") >= F.ceil(F.lit(threshold) * F.col("__szb")))
            & (overlap_ubound >= overlap_needed)
        )
        .select("key_a", "key_b")
        .distinct()
    )
    verified = (
        cand.join(
            tok.select(F.col(key_col).alias("key_a"), F.col("__ts").alias("__ta")),
            "key_a",
        )
        .join(
            tok.select(F.col(key_col).alias("key_b"), F.col("__ts").alias("__tb")),
            "key_b",
        )
        .withColumn("__i", F.size(F.array_intersect("__ta", "__tb")).cast("double"))
        .withColumn(
            "__j",
            F.col("__i")
            / (F.size("__ta") + F.size("__tb") - F.col("__i")),
        )
        .where(F.col("__j") >= threshold)
    )
    return verified.select(
        "key_a", "key_b", F.round("__j", 6).alias("jaccard")
    )


def sorted_neighborhood_pairs(
    df: DataFrame,
    text_col: str,
    key_col: str,
    window: int = 5,
    threshold: float = 0.8,
    bucket_prefix_len: int = 2,
) -> DataFrame:
    """Sorted-neighborhood dedup (Hernández & Stolfo, SIGMOD'95): order
    records by a sort key (here: normalized text, tiebreak key), slide a
    window of ``window`` successors over the sorted sequence, and verify
    token-set Jaccard on the ≤ n·window adjacent pairs only.

    Complements the other near-dup families: MinHash/SimHash bound recall
    probabilistically and prefix-Jaccard prunes by shared rare tokens;
    SNM's contract is positional — it finds pairs whose SORT KEYS are
    close (the classic record-linkage blocking move), in O(n·window)
    candidates regardless of token-frequency skew.

    Scale shape: the global sequence number comes from the bucketed
    prefix-sum cascade (monotone key-prefix buckets → per-bucket
    row_number in parallel + a bounded offsets cascade — never a
    SinglePartition sort of the table). The window pairing is an
    equi-join: each row explodes its ``window`` successor positions and
    joins on the position — no range/nested-loop join. Verification is
    JVM array_intersect on the candidate pairs only.
    """
    from airflow_dags_spark.functions.scalable_windows import (
        bucketed_running_sum,
    )
    from airflow_dags_spark.functions.text import normalized

    if window < 1:
        raise ValueError(f"window must be >= 1, got {window}")
    # NULL-text guard on the RAW column: the old `where(size(__ts) > 0)`
    # got predicate-pushed below the projection and re-evaluated the
    # tokenize+distinct pipeline at the scan (the SCALE.md round-8 filter
    # lesson) — and since split() never returns an empty array, NULL
    # exclusion was the only thing it actually did
    base = df.where(F.col(text_col).isNotNull()).select(
        F.col(key_col),
        normalized(text_col).alias("__key"),
        F.array_distinct(tokens(text_col)).alias("__ts"),
    )
    # bucket = leading characters of the sort key: monotone in the
    # (__key, key_col) total order, so per-bucket positions + offsets
    # compose to the exact global sequence number
    seq = bucketed_running_sum(
        base.withColumn("__one", F.lit(1)),
        "__one",
        ["__key", key_col],
        F.substring("__key", 1, bucket_prefix_len),
        "__rn",
    ).drop("__one")
    a = seq.select(
        F.col(key_col).alias("key_a"),
        F.col("__ts").alias("__ta"),
        F.explode(
            F.sequence(F.col("__rn") + 1, F.col("__rn") + window)
        ).alias("__pos"),
    )
    b = seq.select(
        F.col(key_col).alias("key_b"),
        F.col("__ts").alias("__tb"),
        F.col("__rn").alias("__pos"),
    )
    inter = F.size(F.array_intersect("__ta", "__tb")).cast("double")
    return (
        a.join(b, "__pos")
        .withColumn(
            "__j", inter / (F.size("__ta") + F.size("__tb") - inter)
        )
        .where(F.col("__j") >= threshold)
        .select(
            F.least("key_a", "key_b").alias("key_a"),
            F.greatest("key_a", "key_b").alias("key_b"),
            F.round("__j", 6).alias("jaccard"),
        )
    )
