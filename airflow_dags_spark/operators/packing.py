"""Sequence packing — map documents onto fixed token-budget training
windows (north-star §2.9: the step between a curated corpus and a
pretraining dataloader).

The standard pretraining layout (GPT-style) concatenates every document's
tokens in a deterministic order and slices the stream into fixed-length
windows (e.g. 4096 tokens); a document can straddle a window boundary.
Computing each document's [start, end) offset in that stream is a prefix
sum — the textbook sequential scan — so the engine form matters:

Scale shape (100 TB): a naive ``SUM() OVER (ORDER BY key)`` is a
SINGLE-PARTITION window over every document — the one plan shape that
cannot scale. This module runs the classic two-phase distributed scan
instead:

1. docs are grouped into deterministic key-range buckets
   (``floor(key / key_bucket_width)``: order-preserving, no shuffle skew
   beyond the key distribution itself);
2. ONE map-side-combined aggregation produces per-bucket token sums —
   ``key_range / key_bucket_width`` rows, the only data that ever meets
   a single-partition window (the bucket-offset cumsum). The width is
   the knob: 65536 keeps the bucket table ~1.5M rows per 10^11 docs;
   a second bucketing level extends the same recipe indefinitely;
3. the within-bucket cumsum is a ``partitionBy(bucket)`` window — fully
   parallel, each partition bounded by the bucket width;
4. window membership explodes each doc into the ``sequence(first_window,
   last_window)`` it overlaps — output rows = n_docs + n_boundary
   straddles, never tokens.

Token counting is the engine-portable whitespace form
(``functions.text.token_count``) so a DuckDB oracle reproduces offsets
bit-for-bit; swap in a real tokenizer count column upstream without
touching the packing math (any bigint ``n_tokens`` works via
``spans_from_counts``).

Reference: the reference repo has no packing operator (its pipelines stop
at cleaned relational rows); this is part of the LLM-pipeline surface the
engine adds beyond reference parity. Sibling surface: the greedy
first-fit SHARD packer (``operators/export.pack_sequences``, per-shard
bin packing for inference/eval batching) — this module is the
concatenate-and-slice PRETRAINING layout, with exact global offsets and
boundary-straddling docs.
"""

from __future__ import annotations

import uuid

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from airflow_dags_spark.functions.text import token_count
from airflow_dags_spark.operators.versioned_store import VersionedStore

__all__ = [
    "TokenStreamStore",
    "spans_from_counts",
    "token_stream_offsets",
    "token_window_spans",
]


def token_stream_offsets(
    counts: DataFrame,
    key_col: str,
    count_col: str,
    key_bucket_width: int = 65536,
) -> DataFrame:
    """Per-document [start, end) offsets in the concatenated token stream
    (stream order = ascending ``key_col``) — the two-phase distributed
    prefix sum, un-exploded: one row per nonzero-count document,
    ``key, start, end``.

    Zero-token docs are excluded (they occupy no stream positions; note
    the portable tokenizer never yields 0 — ``split('', ' ') = ['']`` in
    both engines — so this guard only matters for injected real-tokenizer
    counts). ``key_col`` must be numeric: bucketing uses order-preserving
    floor division, so bucket boundaries follow the key distribution —
    a dense surrogate key gives uniform buckets; re-key upstream if the
    id space is pathologically sparse.

    PRECONDITION: keys must be unique — with duplicate keys the
    within-bucket running sum's tie order decides each duplicate's span,
    making offsets run-dependent. ``TokenStreamStore.append_batch``
    (whose replay contract needs bit-identical recomputes) collapses
    duplicates before calling here; batch callers own the same guarantee.
    """
    if key_bucket_width < 1:
        raise ValueError(
            f"key_bucket_width must be >= 1, got {key_bucket_width}"
        )
    k, n = F.col(key_col), F.col(count_col).cast("bigint")
    base = counts.select(
        k.alias(key_col),
        n.alias("__n"),
        F.floor(k / F.lit(key_bucket_width)).alias("__bkt"),
    ).where(F.col("__n") > 0)

    # phase 1: per-bucket totals — the ONLY single-partition window input
    bucket_sums = base.groupBy("__bkt").agg(F.sum("__n").alias("__bsum"))
    w_off = (
        Window.orderBy("__bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = bucket_sums.select(
        "__bkt",
        F.coalesce(F.sum("__bsum").over(w_off), F.lit(0)).alias("__off"),
    )

    # phase 2: parallel within-bucket cumsum + broadcast bucket offsets
    w_in = (
        Window.partitionBy("__bkt")
        .orderBy(key_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        base.join(F.broadcast(offsets), "__bkt")
        .withColumn("__cum", F.sum("__n").over(w_in))
        .select(
            key_col,
            (F.col("__off") + F.col("__cum") - F.col("__n")).alias("start"),
            (F.col("__off") + F.col("__cum")).alias("end"),
        )
    )


def spans_from_counts(
    counts: DataFrame,
    key_col: str,
    count_col: str,
    window_tokens: int,
    key_bucket_width: int = 65536,
) -> DataFrame:
    """Exploded (key, window_id) assignment from a (key, n_tokens) frame.

    Returns one row per (document, overlapped window):
    ``key, window_id, start, end, n_tokens_in_window`` where [start, end)
    comes from :func:`token_stream_offsets` and windows are the
    ``window_tokens``-sized slices of the stream. Interior windows
    receive exactly ``window_tokens`` tokens by construction.
    """
    if window_tokens < 1:
        raise ValueError(f"window_tokens must be >= 1, got {window_tokens}")
    spans = token_stream_offsets(counts, key_col, count_col, key_bucket_width)

    # explode into overlapped windows; rows = docs + boundary straddles
    wt = F.lit(window_tokens).cast("bigint")
    first = F.floor(F.col("start") / wt).cast("bigint")
    last = F.floor((F.col("end") - 1) / wt).cast("bigint")
    return (
        spans.withColumn("window_id", F.explode(F.sequence(first, last)))
        .select(
            key_col,
            "window_id",
            "start",
            "end",
            (
                F.least(F.col("end"), (F.col("window_id") + 1) * wt)
                - F.greatest(F.col("start"), F.col("window_id") * wt)
            ).alias("n_tokens_in_window"),
        )
    )


def token_window_spans(
    df: DataFrame,
    text_col: str,
    key_col: str,
    window_tokens: int,
    key_bucket_width: int = 65536,
) -> DataFrame:
    """``spans_from_counts`` over the portable whitespace token count of
    ``text_col`` — the oracle-checkable form; the count is one codegen
    projection, the text column itself never reaches an exchange."""
    counts = df.select(
        key_col, token_count(text_col).alias("__n_tokens")
    )
    return spans_from_counts(
        counts, key_col, "__n_tokens", window_tokens, key_bucket_width
    )


class TokenStreamStore(VersionedStore):
    """Persistent cursor for INCREMENTAL sequence packing: a corpus that
    arrives in batches extends the concatenated token stream instead of
    re-packing it, so dataloader layouts stay stable for already-shipped
    data and packing cost is a function of ARRIVING data only.

    State is the stream CURSOR (``next_offset``, one row), one version per
    applied batch (:mod:`operators.versioned_store` — replay and crash
    contract, excluded concurrent writers); each batch's doc→[start, end)
    assignments land in their own ``assignments/v{n}-<uuid8>``
    directory BEFORE its ledger entry, which names it, so a crash before
    the commit leaves an orphan assignment set that no reader sees, and
    the replay writes a fresh one (same cursor base → bit-identical
    offsets). Batch order defines stream order ACROSS batches; within a
    batch, ascending key — both deterministic, which is what makes the
    whole store oracle-checkable.

    100 TB shape: per batch, one two-phase prefix scan of the BATCH
    (:func:`token_stream_offsets` — never the corpus), a one-row cursor
    read/write, and a bounded agg over the batch's written assignments;
    the historical stream is never re-read.
    """

    _label = "token stream store"
    _state_schema = "next_offset bigint"

    def __init__(self, spark, path: str, *, key_col: str = "doc_id") -> None:
        super().__init__(spark, path, key_col=key_col)

    # -- state access -------------------------------------------------------

    def _offset_at(self, version: int, _rows: list | None = None) -> int:
        if version < 0:
            return 0
        return int(self._state_rows(version, _rows)[0]["next_offset"])

    def next_offset(self) -> int:
        """Stream position the next batch starts at (0 for a fresh store)."""
        rows = self._ledger_rows()
        return self._offset_at(self.current_version(rows), rows)

    def assignments(self) -> DataFrame:
        """All committed doc→span assignments:
        ``(key, start, end, batch_id)``. Reads the directories the ledger
        names only — an orphan from a crashed append is invisible."""
        paths = [r["assignments"] for r in self._ledger_rows() or []]
        if not paths:
            raise ValueError(f"token stream store at {self.path} is empty")
        return self.spark.read.parquet(*paths)

    # -- writes -------------------------------------------------------------

    def append_batch(
        self,
        counts: DataFrame,
        count_col: str,
        batch_id: str,
        *,
        key_bucket_width: int = 65536,
    ) -> dict:
        """Pack one batch onto the end of the stream. ``counts`` is a
        ``(key, n_tokens)`` frame (pair with
        ``token_count(text_col)`` upstream). Idempotent on ``batch_id``."""
        ledger = self._ledger_rows()
        if self._applied(batch_id, ledger):
            return {"applied": False, "version": self.current_version(ledger)}
        version = self.current_version(ledger) + 1
        base = self._offset_at(version - 1, ledger)
        # at-least-once sources can deliver a doc twice WITHIN one batch;
        # duplicate keys would make the within-bucket cumsum tie-order
        # dependent — nondeterministic offsets, breaking the replay
        # contract (crash heal relies on the recompute being
        # bit-identical). Collapse to max(count) per key: deterministic,
        # and exact for the real duplicate-delivery case (equal counts).
        uniq = counts.groupBy(self.key_col).agg(
            F.max(F.col(count_col).cast("bigint")).alias("__n_uniq")
        )
        offs = token_stream_offsets(
            uniq, self.key_col, "__n_uniq", key_bucket_width
        ).select(
            self.key_col,
            (F.col("start") + F.lit(base)).alias("start"),
            (F.col("end") + F.lit(base)).alias("end"),
            F.lit(batch_id).alias("batch_id"),
        )
        adir = f"{self.path}/assignments/v{version}-{uuid.uuid4().hex[:8]}"
        offs.write.mode("errorifexists").parquet(adir)
        written = self.spark.read.parquet(adir)
        row = written.agg(F.max("end").alias("m")).collect()[0]
        nxt = int(row["m"]) if row["m"] is not None else base
        self._commit(batch_id, version, [(nxt,)], adir, assignments=adir)
        return {"applied": True, "version": version, "next_offset": nxt}
