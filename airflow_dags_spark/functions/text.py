"""Text-analysis column builders (north-star §2.9: language-ID, quality
scoring, token counting, fingerprinting).

Everything here is JVM-side builtins (split/regexp/md5/aggregate) so text
processing at 100 TB stays inside whole-stage codegen — no Python in the hot
path. Tokenization is deliberately engine-portable (trim + lower + split on
whitespace) so DuckDB oracles reproduce it exactly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def ws_collapsed(col: Column | str) -> Column:
    """Trimmed, whitespace-collapsed text — the ONE definition of the
    engine's whitespace handling. ``normalized`` (hash canon) and
    ``tokens_cased`` (case-preserving rebuild) both derive from it, so
    the positional-alignment invariant between ``tokens`` and
    ``tokens_cased`` cannot drift when whitespace semantics change."""
    return F.regexp_replace(F.trim(_c(col)), r"\s+", " ")


def normalized(col: Column | str) -> Column:
    """Whitespace-collapsed, lowercased text — canonical form for hashing."""
    return F.lower(ws_collapsed(col))


def tokens(col: Column | str) -> Column:
    """Whitespace tokenization of normalized text → array<string>."""
    return F.split(normalized(col), " ")


def tokens_cased(col: Column | str) -> Column:
    """Whitespace tokenization WITHOUT lowercasing → array<string>.

    Positionally aligned with :func:`tokens` — ``lower()`` never changes
    whitespace, so token i here is the case-preserving form of token i
    there. For surfaces that DETECT on the normalized form but must
    REBUILD text case-preserving (dedup.remove_duplicated_spans: a
    curation rewrite that lowercased every surviving document corpus-wide
    would destroy case information in the training data)."""
    return F.split(ws_collapsed(col), " ")


def token_count(col: Column | str) -> Column:
    return F.size(tokens(col)).cast("bigint")


def shingles_from_tokens(toks: Column, n: int) -> Column:
    """n-token shingles over an ALREADY-MATERIALIZED tokens column.

    ``toks`` must be a plain attribute (not an inlined split(...) tree):
    element_at inside the lambda evaluates its array argument per element,
    so an inlined split would re-tokenize O(tokens × shingles) times.
    Callers stage ``tokens(text)`` into its own projection first — Catalyst
    keeps multi-use non-cheap projections materialized (CollapseProject's
    isCheap rule), making this a true compute-once barrier.
    """
    # A doc with fewer than n tokens has NO shingles: the index range must
    # be EMPTY, not sequence(1, 0) — Spark's sequence descends when start >
    # stop, so that form yields [1, 0] and element_at(toks, 0) throws
    # INVALID_INDEX_OF_ZERO, killing the whole job on one short doc.
    end = F.size(toks) - (n - 1)
    idx = F.when(end >= 1, F.sequence(F.lit(1), end)).otherwise(
        F.array().cast("array<int>")
    )
    shingle = lambda i: F.concat_ws(  # noqa: E731
        " ", *[F.element_at(toks, i + j) for j in range(n)]
    )
    return F.array_distinct(F.transform(idx, shingle))


def word_shingles(col: Column | str, n: int) -> Column:
    """n-token shingles straight from a text column — convenient for small
    inputs/oracle queries; for hot paths prefer staging tokens first
    (see shingles_from_tokens)."""
    return shingles_from_tokens(tokens(col), n)


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard similarity of two (distinct-element) arrays."""
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = F.size(F.array_union(a, b)).cast("double")
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def minhash_from_shingles(sh: Column, salts: list[str]) -> list[Column]:
    """Portable MinHash: per salt, min(md5(salt || shingle)) over a
    materialized shingles column.

    md5 plays the role of the salted hash family; min over hex strings is a
    valid min-wise hash (lexicographic order on a uniform 128-bit value).
    Any engine with md5 reproduces the signature bit-for-bit — which is what
    makes the near-dup path oracle-checkable, unlike seeded murmur3.
    """

    def band(salt: str) -> Column:
        # NB: the lambda must take exactly one arg — PySpark interprets a
        # two-arg lambda as (element, index).
        return F.array_min(F.transform(sh, lambda s: F.md5(F.concat(F.lit(salt), s))))

    return [band(salt).alias(f"band_{i}") for i, salt in enumerate(salts)]


def fingerprint(col: Column | str) -> Column:
    """Document fingerprint: md5 of the normalized text (exact-dup key)."""
    return F.md5(normalized(col))


# Quality scoring ------------------------------------------------------------

_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it")


def quality_columns(col: Column | str) -> dict[str, Column]:
    """Length / punctuation / stopword-ratio heuriestics (SURVEY §2.9)."""
    c = _c(col)
    toks = tokens(col)
    n_tok = F.size(toks).cast("bigint")
    n_chars = F.length(c).cast("bigint")
    stop_arr = F.array(*[F.lit(s) for s in _STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t)))
    n_punct = F.length(F.regexp_replace(c, r"[^.,;:!?]", "")).cast("bigint")
    return {
        "n_chars": n_chars,
        "n_tokens": n_tok,
        "avg_token_len": F.round(
            F.when(n_tok > 0, (F.length(F.concat_ws("", toks)).cast("double")) / n_tok).otherwise(
                F.lit(0.0)
            ),
            6,
        ),
        "stopword_ratio": F.round(
            F.when(n_tok > 0, n_stop.cast("double") / n_tok).otherwise(F.lit(0.0)), 6
        ),
        "punct_ratio": F.round(
            F.when(n_chars > 0, n_punct.cast("double") / n_chars).otherwise(F.lit(0.0)), 6
        ),
    }


def lang_id_heuristic(col: Column | str) -> Column:
    """Deterministic marker-token language guess (n-gram heuristic stand-in).

    A real deployment would plug a fastText-style model in via pandas UDF;
    the engine surface (a string column in, a lang code out) is what's being
    tested, with a rule set both Spark and the SQL oracle express.
    """
    toks = tokens(col)
    has = lambda w: F.array_contains(toks, w)  # noqa: E731
    return (
        F.when(has("the") | has("and") | has("of"), F.lit("en"))
        .when(has("der") | has("und") | has("das"), F.lit("de"))
        .when(has("le") | has("et") | has("la"), F.lit("fr"))
        .otherwise(F.lit("unknown"))
    )


# The curation quality gate: kept languages and the largest stopword and
# punctuation ratios a training document may have.
GATE_LANGUAGES = ("en",)
MAX_STOPWORD_RATIO = 0.9
MAX_PUNCT_RATIO = 0.3


def quality_gate(df: DataFrame, text_col: str, min_tokens: int) -> DataFrame:
    """The curation funnel's stage-1 filter: a kept language, stopword and
    punctuation ratios within their limits, and at least ``min_tokens``
    tokens. One scan-side predicate (no shuffle, no new columns); the one
    definition behind jobs/curate_full and the ``curate_funnel_counts``
    query."""
    q = quality_columns(text_col)
    return df.where(
        lang_id_heuristic(text_col).isin(*GATE_LANGUAGES)
        & (q["stopword_ratio"] <= MAX_STOPWORD_RATIO)
        & (q["punct_ratio"] <= MAX_PUNCT_RATIO)
        & (token_count(text_col) >= min_tokens)
    )


# BPE-ish subword counting ----------------------------------------------------

BPE_TOKEN_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def bpe_token_count(col: Column | str) -> Column:
    """Token count under a BPE-ish pre-tokenizer regex (letters / digits /
    single punctuation), the standard proxy for LLM token budgeting."""
    return F.size(F.regexp_extract_all(_c(col), F.lit(BPE_TOKEN_PATTERN), 0)).cast(
        "bigint"
    )


def tfidf_terms(
    df: DataFrame, text_col: str, key_col: str, min_tf: int = 2
) -> DataFrame:
    """Per-document TF-IDF term weights over whitespace tokens:
    ``(key, term, tf, df_docs, tfidf)`` with
    ``tfidf = tf * ln((N+1)/(df_docs+1))`` rounded to 6 decimals.

    Keyword extraction for a training-data corpus — entirely built-in ops:
    explode → two hash aggregations (doc-term tf, term document-frequency)
    → broadcast of the 1-row corpus size. ``min_tf`` prunes the long tail
    of singleton terms BEFORE the df aggregation, which is what bounds the
    term-level shuffle at corpus scale — consequently ``df_docs`` counts
    documents where the term appears ≥ ``min_tf`` times (documented
    deviation from the textbook df; set ``min_tf=1`` for the textbook
    form). No top-k cutoff: emitting all
    surviving terms keeps the result order-insensitive (exactly
    oracle-hashable) — rank downstream if needed.
    """
    toks = df.select(
        F.col(key_col), F.explode(tokens(text_col)).alias("term")
    ).where(F.length("term") > 0)
    tf = toks.groupBy(key_col, "term").agg(F.count("*").alias("tf"))
    tf = tf.where(F.col("tf") >= min_tf)
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df_docs"))
    n = df.agg(F.countDistinct(key_col).alias("n_docs"))
    return (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n))
        .select(
            key_col,
            "term",
            "tf",
            "df_docs",
            F.round(
                F.col("tf")
                * F.log(
                    (F.col("n_docs") + F.lit(1.0))
                    / (F.col("df_docs") + F.lit(1.0))
                ),
                6,
            ).alias("tfidf"),
        )
    )


# PII redaction patterns — conservative syntax that parses identically in
# java.util.regex (Spark) and RE2 (DuckDB), so redaction is oracle-checkable.
EMAIL_PATTERN = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_PATTERN = r"\+?\d[\d\- ]{7,}\d"


def redact_pii(col: Column | str) -> Column:
    """Replace email addresses and phone-number-shaped digit runs with
    typed placeholders — the scrub pass a training corpus runs before
    tokenization. Pure ``regexp_replace`` chain: JVM-side, codegen, no UDF."""
    c = _c(col)
    c = F.regexp_replace(c, EMAIL_PATTERN, "<EMAIL>")
    return F.regexp_replace(c, PHONE_PATTERN, "<PHONE>")


def chunk_text(
    df: DataFrame,
    text_col: str,
    key_col: str,
    chunk_size: int = 64,
    overlap: int = 16,
    *,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Sliding-window token chunking with overlap — the context-window
    splitter feeding an embedding/training stage. Output
    ``(key, chunk_idx, start_pos, chunk, n_tokens)``; the final chunk may
    be shorter than ``chunk_size``.

    One explode per document (fan-out ≈ n_tokens/stride), everything
    built-in: ``sequence`` for window starts, ``slice`` + ``array_join``
    for the window — no Python in the loop, so chunking 100 TB of text is
    a pure codegen map stage with zero shuffles.

    ``extra_cols`` ride along unchanged (e.g. ``source`` for per-source
    chunk stats) — pass-through in the map stage instead of a chunks×docs
    re-join downstream, which at scale would shuffle both sides.
    """
    assert 0 <= overlap < chunk_size, "need 0 <= overlap < chunk_size"
    stride = chunk_size - overlap
    toks = tokens(text_col)
    base = df.select(
        F.col(key_col), *[F.col(c) for c in extra_cols], toks.alias("__toks")
    ).withColumn(
        "start_pos",
        F.explode(
            F.sequence(F.lit(1), F.greatest(F.size("__toks"), F.lit(1)), F.lit(stride))
        ),
    )
    window = F.slice(F.col("__toks"), F.col("start_pos"), chunk_size)
    return base.select(
        key_col,
        *extra_cols,
        ((F.col("start_pos") - 1) / F.lit(stride)).cast("bigint").alias("chunk_idx"),
        F.col("start_pos").cast("bigint").alias("start_pos"),
        F.array_join(window, " ").alias("chunk"),
        F.size(window).cast("bigint").alias("n_tokens"),
    )


def bpe_pair_counts(df: DataFrame, text_col: str) -> DataFrame:
    """Corpus-wide adjacent character-pair frequencies — the statistic the
    FIRST BPE merge step maximizes (Sennrich et al. 2016): for every
    distinct word, every adjacent 2-char window, weighted by the word's
    corpus frequency. Returns ``(pair, n)`` unordered; take
    ``ORDER BY n DESC LIMIT k`` for merge candidates.

    Scale shape: two map-side-combined hash aggregations — tokens
    collapse to the word-type VOCABULARY first (types ≪ tokens, the
    heavy-tail collapse happens in the combiner), then pairs explode off
    the vocab only (≤ |vocab| × max word length rows). Zero text through
    any exchange beyond the word types themselves; single-char words
    contribute nothing (empty pair array, the sequence(1,0)-descends
    guard of ``shingles_from_tokens`` applies here too)."""
    words = (
        df.select(F.explode(tokens(text_col)).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("__f"))
    )
    idx = F.when(
        F.length("w") >= 2, F.sequence(F.lit(1), F.length("w") - 1)
    ).otherwise(F.array().cast("array<int>"))
    return (
        words.select(
            "__f",
            F.explode(F.transform(idx, lambda i: F.col("w").substr(i, F.lit(2)))).alias(
                "pair"
            ),
        )
        .groupBy("pair")
        .agg(F.sum("__f").cast("bigint").alias("n"))
    )
