"""Screened incremental ingest: Bloom-screened EXACT insert-if-absent, and
a persistent MinHash signature store for NEAR-dup screening at ingest.

``ParquetTable.insert_if_absent`` (K3) anti-joins every batch against the
target — with a broadcast-able batch that is still one FULL scan of the
target per batch, the dominant cost of high-frequency ingest into a 100 TB
corpus. A persisted Bloom seen-list (functions/probabilistic.py — fixed
≤ m/32 rows regardless of corpus size) screens the batch first:

- ``might_contain == False``  → DEFINITELY absent (Bloom has no false
  negatives): append without touching the target at all.
- ``might_contain == True``   → duplicate OR false positive (~the
  configured FP rate): only THESE rows run the exact anti-join; when the
  batch is entirely new — the common crawl case — the target scan is
  skipped entirely.

The result is bit-identical to ``insert_if_absent`` (the exact join
catches Bloom FPs); the Bloom only decides how much work the proof costs.
The seen-list persists next to the table (``<path>.bloom``) and is updated
by bit_or-merging the appended keys' bits — the same mergeable-table form
``bloom_merge`` uses, so concurrent readers just see a slightly-stale
filter (stale = more maybes = more exact-join work, never wrong results).

Reference parity: this is the lake-scale replacement for the reference's
per-row Postgres ``ON CONFLICT DO NOTHING`` unique-index probe
(dags/monthly_price_paid_data.py:147-155), which IS a memory-resident
seen-set on the DB side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from airflow_dags_spark.functions.localframe import tiny_df

from airflow_dags_spark.functions.probabilistic import (
    BLOOM_K,
    BLOOM_M_BITS,
    bloom_build,
    bloom_merge,
    bloom_might_contain,
)
from airflow_dags_spark.operators import commit
from airflow_dags_spark.operators.upsert import ParquetTable, rows_to_insert
from airflow_dags_spark.sources.tables import parquet_row_count


def _bloom_table(table: ParquetTable) -> ParquetTable:
    """The persisted seen-list ``<path>.bloom``, keyed on word_idx."""
    return ParquetTable(table.spark, f"{table.path}.bloom", "word_idx")


def _save_bloom(table: ParquetTable, bloom: DataFrame) -> None:
    """Every rewrite of the seen-list is the recovering stage-and-swap."""
    commit.swap(table.spark, _bloom_table(table).path, bloom.write.mode("overwrite").parquet)


def _bloom_keys(table: ParquetTable, df: DataFrame, key: str) -> DataFrame:
    """Key column as the Bloom sees it. For ``case_insensitive`` tables the
    exact anti-join compares ``lower(key)`` — the Bloom must hash the SAME
    normalized value on both the build and probe paths, else a case-variant
    duplicate ('ABC' vs stored 'abc') probes definitely-absent and gets
    appended, breaking the bit-identical-to-K3 contract."""
    if table.case_insensitive:
        return df.select(F.lower(F.col(key)).alias(key))
    return df.select(key)


def _load_or_build_bloom(
    table: ParquetTable, key: str, m_bits: int, k: int
) -> DataFrame:
    bloom = _bloom_table(table)
    if bloom.exists():
        return bloom.read()
    # backfill: one pass over the existing corpus (only ever paid once)
    if table.exists():
        return bloom_build(_bloom_keys(table, table.read(), key), key, m_bits, k)
    return tiny_df(table.spark, [], "word_idx bigint, word bigint")


def bloom_screened_insert_if_absent(
    table: ParquetTable,
    src: DataFrame,
    order_by: list[str],
    *,
    m_bits: int = BLOOM_M_BITS,
    k: int = BLOOM_K,
) -> dict[str, int]:
    """K3 with a Bloom fast path. Single-key tables (the seen-list hashes
    one key column). Returns observable counts:
    ``{"n_batch", "n_definite_new", "n_maybe", "n_inserted"}`` —
    ``n_maybe == 0`` means the target was never scanned this batch."""
    if len(table.keys) != 1:
        raise ValueError("bloom-screened ingest supports single-key tables")
    key = table.keys[0]

    if not table.exists():
        table.overwrite(src, order_by)
        n = table.read().count()
        _save_bloom(table, bloom_build(_bloom_keys(table, table.read(), key), key, m_bits, k))
        return {
            "n_batch": n,
            "n_definite_new": n,
            "n_maybe": 0,
            "n_inserted": n,
        }

    clean = table.dedup_first_wins(src, order_by)
    bloom = _load_or_build_bloom(table, key, m_bits, k)
    probed = bloom_might_contain(
        bloom, _bloom_keys(table, clean, key), key, m_bits, k
    )
    # join back on the same normalization the probe hashed; the dedup
    # already guarantees one batch row per normalized key
    norm = F.lower(F.col(key)) if table.case_insensitive else F.col(key)
    flagged = clean.join(
        probed.withColumnRenamed(key, "__bkey"), norm == F.col("__bkey")
    ).drop("__bkey")
    # one materialization of the (small) batch split — avoids recomputing
    # the probe for each branch
    flagged = flagged.localCheckpoint(eager=True)
    definite_new = flagged.where(~F.col("might_contain")).drop("might_contain")
    maybe = flagged.where(F.col("might_contain")).drop("might_contain")

    n_batch = flagged.count()
    n_maybe = maybe.count()
    to_insert = definite_new
    if n_maybe:
        survivors = rows_to_insert(
            table.read(), maybe, table.keys, case_insensitive=table.case_insensitive
        )
        to_insert = definite_new.unionByName(survivors)

    to_insert = to_insert.localCheckpoint(eager=True)
    n_inserted = to_insert.count()
    if n_inserted:
        table.append(to_insert.select(*table.read().columns))
        _save_bloom(
            table,
            bloom_merge(
                bloom, bloom_build(_bloom_keys(table, to_insert, key), key, m_bits, k)
            ),
        )
    return {
        "n_batch": n_batch,
        "n_definite_new": n_batch - n_maybe,
        "n_maybe": n_maybe,
        "n_inserted": n_inserted,
    }


class MinhashSignatureStore:
    """Persistent MinHash signature store: near-dup screening at ingest
    without ever re-signing the corpus — the near-dup sibling of
    :func:`bloom_screened_insert_if_absent` (which screens EXACT keys).

    The store is a parquet table of band signatures
    (``key_col``, ``band_0``..``band_{n-1}``) keyed by document id. Each
    ``ingest(new_docs)`` batch:

    1. signs ONLY the batch (`minhash_bands` — per-row md5 min-hashing);
    2. band-joins the new signatures against the store
       (:func:`minhash_incremental_screen`, signatures passed precomputed
       so each doc is signed exactly once);
    3. appends the NOVEL docs' signatures to the store via keyed
       insert-if-absent (``ParquetTable`` K3 semantics), so at-least-once
       delivery never duplicates the store; the screen sees the store AS
       OF BEFORE the batch (store rows keyed by any batch member are
       excluded), so replaying a batch — whether or not its append landed
       — reproduces the identical screen (intra-batch near-dup detection
       is a separate pre-step, e.g. ``minhash_candidate_pairs``);
    4. returns the screen frame (caller routes candidates into exact
       verification — ``ngram_jaccard`` — and novel docs into the corpus)
       plus observable counts.

    ``append_matched=True`` stores matched docs' signatures too (policy:
    keep near-dups but remember them); default drops them, the standard
    curation rule.

    100 TB shape: signing cost is paid once per document lifetime; the
    screen shuffles signatures (bounded, band-bucket pruned), the append
    anti-joins on the key column only. The store grows with the corpus
    (~n_bands × 32-hex per doc — 4 bands ≈ 130 B/doc ≈ 130 TB per
    trillion docs, scan-prunable parquet), never with batch count.
    """

    def __init__(
        self,
        spark,
        path: str,
        key_col: str = "doc_id",
        *,
        n_shingle: int = 3,
        salts: list[str] | None = None,
    ) -> None:
        from airflow_dags_spark.operators.dedup import DEFAULT_SALTS

        self.spark = spark
        self.path = path
        self.key_col = key_col
        self.n_shingle = n_shingle
        self.salts = list(salts or DEFAULT_SALTS)
        self._table = ParquetTable(spark, path, key_col)

    def exists(self) -> bool:
        return self._table.exists()

    @property
    def _band_cols(self) -> list[str]:
        return [f"band_{i}" for i in range(len(self.salts))]

    def read(self, key_like: DataFrame | None = None) -> DataFrame:
        """Current store signatures (empty-schema frame when absent).

        ``key_like``: any frame carrying ``key_col`` — when the store does
        not exist yet, the empty frame's key column copies THAT type, so a
        store keyed by strings doesn't fabricate a bigint key on its first
        batch (which would flip ``matched_store_doc``'s type between the
        first and second micro-batch and corrupt a downstream parquet
        sink's schema)."""
        if self.exists():
            return self._table.read()
        ktype = (
            key_like.schema[self.key_col].dataType.simpleString()
            if key_like is not None
            else "long"
        )
        bands = ", ".join(f"{c} string" for c in self._band_cols)
        return tiny_df(self.spark, [], f"{self.key_col} {ktype}, {bands}")

    def screen(self, new_docs: DataFrame, text_col: str):
        """Sign + screen a batch against the store — NO store write.

        Returns ``(screen, new_bands)``: ``screen`` is one row per distinct
        batch key (``key_col``, ``matched_store_doc``,
        ``n_matching_bands``), ``new_bands`` the batch signatures for a
        later :meth:`append_signatures`. Both are materialized
        (localCheckpoint), so they stay valid across any store rewrite.

        Duplicate keys WITHIN the batch collapse first-wins by ``text_col``
        (a deterministic total order within a key) and null keys are
        rejected — the same source discipline every table write applies
        (``ParquetTable.dedup_first_wins``), so the screen's counts can
        never disagree with what the append later accepts."""
        from airflow_dags_spark.operators.dedup import (
            minhash_bands,
            minhash_incremental_screen,
        )

        deduped = self._table.dedup_first_wins(new_docs, [text_col])
        new_bands = minhash_bands(
            deduped, text_col, self.key_col, self.n_shingle, self.salts
        ).localCheckpoint(eager=True)  # sign once: screen AND append reuse
        screen = minhash_incremental_screen(
            self.read(key_like=new_bands),
            deduped,
            text_col,
            self.key_col,
            self.n_shingle,
            self.salts,
            new_bands=new_bands,
        ).localCheckpoint(eager=True)  # decouple from the store we rewrite
        return screen, new_bands

    def advisory_redelivery(self, new_bands: DataFrame) -> DataFrame:
        """The second advisory pass over the store rows :meth:`screen`
        excludes (store rows keyed by batch members) — catches the
        cross-batch recall loss documented on
        ``minhash_incremental_screen``: a batch re-delivering an old key K
        alongside a new near-dup of K. Returns
        ``(key_col, advisory_matched_store_doc, n_matching_bands)`` hit
        rows only; routing stays untouched (flags-after-the-fact for
        exact verification or audit). Pass the ``new_bands`` frame
        returned by :meth:`screen` so nothing is re-signed."""
        from airflow_dags_spark.operators.dedup import minhash_redelivery_advisory

        return minhash_redelivery_advisory(
            self.read(key_like=new_bands),
            new_bands,
            self.key_col,
            len(self.salts),
        )

    def append_signatures(
        self,
        new_bands: DataFrame,
        screen: DataFrame,
        *,
        append_matched: bool = False,
    ) -> int:
        """Persist a screened batch's signatures (K3 insert-if-absent);
        returns the number of rows actually appended.

        Separate from :meth:`screen` so callers with their own downstream
        writes (the streaming sink) can order them BEFORE the store write —
        the store should never get ahead of the routed output. (Routing
        itself is replay-safe regardless: the screen excludes store rows
        keyed by batch members, so it is a pure function of the pre-batch
        store and the batch.)"""
        novel_keys = screen.where(F.col("matched_store_doc").isNull()).select(
            self.key_col
        )
        to_append = (
            new_bands
            if append_matched
            else new_bands.join(novel_keys, self.key_col, "left_semi")
        )
        # n_appended from before/after row counts (parquet-footer metadata,
        # no Spark job) — a semi-join against the post-state would
        # over-report on replay: insert_if_absent no-ops on keys already
        # stored, but they'd still match the post-state
        n_before = parquet_row_count(self.spark, self.path) if self.exists() else 0
        # survivor order = band columns (content-derived): deterministic
        # even if a caller skips screen()'s key dedup
        self._table.insert_if_absent(to_append, order_by=self._band_cols)
        return parquet_row_count(self.spark, self.path) - n_before

    def ingest(
        self,
        new_docs: DataFrame,
        text_col: str,
        *,
        append_matched: bool = False,
    ):
        """Screen a batch against the store and append its signatures.

        Returns ``(screen, counts)`` — ``screen`` is one row per distinct
        batch key (``key_col``, ``matched_store_doc``,
        ``n_matching_bands``; rows are materialized, safe to use after the
        store write), ``counts`` is ``{"n_batch", "n_dup_candidates",
        "n_novel", "n_appended"}``. Callers that route docs to their own
        sinks should use :meth:`screen` + :meth:`append_signatures`
        directly and write their routes between the two (see
        ``streaming.pipeline.screened_ingest_sink``)."""
        screen, new_bands = self.screen(new_docs, text_col)
        n_appended = self.append_signatures(
            new_bands, screen, append_matched=append_matched
        )
        n_batch = screen.count()
        n_dup = screen.where(F.col("matched_store_doc").isNotNull()).count()
        return screen, {
            "n_batch": n_batch,
            "n_dup_candidates": n_dup,
            "n_novel": n_batch - n_dup,
            "n_appended": n_appended,
        }


def reconcile_advisories(
    spark,
    advisory_path: str,
    accepted_path: str,
    *,
    key_col: str = "doc_id",
    text_col: str = "text",
    n_shingle: int = 3,
    jaccard_threshold: float = 0.8,
    quarantine: bool = False,
    verified_path: str | None = None,
) -> DataFrame:
    """CONSUME the re-delivery advisory flags
    (``streaming.pipeline.screened_ingest_sink(advisory_path=...)`` /
    ``MinhashSignatureStore.advisory_redelivery``): exact-verify every
    flagged pair and optionally quarantine the confirmed near-dups out of
    the accepted corpus — closing the loop the r8 advisory pass opened
    (the flags were recorded but nothing acted on them; VERDICT r8
    §Next-round #2).

    Per advisory row ``(key, advisory_matched_store_doc, n_matching_bands,
    batch_id)``: both sides' text is looked up in the ACCEPTED table (novel
    routes are the only docs whose signatures enter the store, so the
    matched store doc is an accepted doc by construction), exact shingle
    Jaccard (``operators.dedup.ngram_jaccard``) replaces the banded
    estimate, and ``verified = jaccard >= jaccard_threshold``. The report
    frame ``(key_col, advisory_matched_store_doc, batch_id,
    n_matching_bands, jaccard, verified)`` is returned; rows whose text is
    no longer readable (a side physically compacted away) keep
    ``jaccard = NULL`` / ``verified = false`` — an audit row, never a
    silent drop.

    ``quarantine=True`` applies the confirmed set through the K7
    merge-on-read delete path: ``ParquetTable.logical_delete`` of the
    ADVISORY KEYS (the later-arriving docs — the stored doc is the
    survivor, the same min-key/first-wins discipline every dedup surface
    uses) against the accepted table. O(|confirmed|) per run — a
    deletion-vector append, no partition rewrite; ``compact_dv()`` applies
    it physically later. Re-running the reconcile is idempotent: the
    verification is a pure function of (advisory table, accepted texts) —
    text lookups read ``read()``, not ``read_current()``, so already
    quarantined keys re-verify identically — and re-recording the same
    keys in the deletion vector is absorbed by its distinct-on-read
    contract.

    ``verified_path`` persists the report keyed by (key, batch_id) via
    insert-if-absent — the audit trail of what was confirmed when.

    100 TB shape: one broadcast-able join of the (small) advisory table
    against the accepted corpus per side — the corpus is scanned, the
    advisory side never exceeds flags-to-date; the Jaccard verify touches
    flagged pairs only; the delete is a vector append. Nothing rescans
    signatures or re-signs documents."""
    from airflow_dags_spark.operators.dedup import ngram_jaccard
    from airflow_dags_spark.sources.tables import table_exists

    acc = ParquetTable(spark, accepted_path, key_col)
    if not table_exists(spark, advisory_path):
        # no flags ever recorded: empty report, nothing to quarantine.
        # Key type copies the accepted table's when it exists (string keys
        # must not fabricate a bigint schema), long otherwise.
        ktype = (
            acc.read().schema[key_col].dataType.simpleString()
            if acc.exists()
            else "long"
        )
        return tiny_df(
            spark,
            [],
            f"{key_col} {ktype}, advisory_matched_store_doc {ktype}, "
            "batch_id bigint, n_matching_bands bigint, jaccard double, "
            "verified boolean",
        )
    adv = spark.read.parquet(advisory_path)
    docs = acc.read()  # full read: see docstring (idempotence)
    new_side = docs.select(
        F.col(key_col), F.col(text_col).alias("__text_new")
    )
    store_side = docs.select(
        F.col(key_col).alias("advisory_matched_store_doc"),
        F.col(text_col).alias("__text_store"),
    )
    pairs = adv.join(new_side, key_col, "left").join(
        store_side, "advisory_matched_store_doc", "left"
    )
    report = (
        ngram_jaccard(pairs, "__text_new", "__text_store", n_shingle)
        .withColumn(
            "jaccard",
            F.when(
                F.col("__text_new").isNotNull()
                & F.col("__text_store").isNotNull(),
                F.col("jaccard"),
            ),
        )
        .select(
            key_col,
            "advisory_matched_store_doc",
            F.col("batch_id").cast("bigint").alias("batch_id"),
            F.col("n_matching_bands").cast("bigint").alias("n_matching_bands"),
            "jaccard",
            F.coalesce(
                F.col("jaccard") >= F.lit(jaccard_threshold), F.lit(False)
            ).alias("verified"),
        )
    )
    # materialize BEFORE any accepted-table mutation: the report plan reads
    # the very table logical_delete appends a sidecar next to
    report = report.localCheckpoint(eager=True)
    if verified_path is not None:
        ParquetTable(
            spark, verified_path, [key_col, "batch_id"]
        ).insert_if_absent(report, order_by=["advisory_matched_store_doc"])
    if quarantine:
        confirmed = report.where(F.col("verified")).select(key_col)
        acc.logical_delete(confirmed)
    return report
