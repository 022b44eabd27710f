"""Structured Streaming surface (SURVEY.md §2.7 T1-T6, §7 Phase 5).

The reference is batch + cron but hand-encodes streaming semantics:

- T1 per-key watermark column consulted/advanced around each run
  (dags/pull_new_sales_list.py:97,236-239,267-270)
- T2 micro-batching (100k-row CSV chunks, 10k insert batches)
- T3 idempotent re-delivery via ``ON CONFLICT DO NOTHING``
  (dags/monthly_price_paid_data.py:153)
- T5 cron tumbling windows (daily/weekly/monthly)

Engine mapping: a file-landing-zone stream where each newly arrived file is
a micro-batch (T2); event-time watermarks bound state (T1); T3 has one form
per time domain — ``dedup_within_watermark`` (event time,
``dropDuplicatesWithinWatermark``) and ``stateful_dedup_ttl`` (processing
time, per-key GroupState with a TTL) — neither probes a target table;
``foreachBatch`` + the engine MERGE library turns any stream into an
idempotent keyed upsert. Every sink starts with ``Trigger.AvailableNow``:
drain everything, then stop, the cron-run contract (T5) the Airflow
wrappers need.

Scale: state size is the whole game at 100 TB/day. Every stateful op here
bounds its state — a watermark or a TTL evicts; dedup keys only (not full
rows); window state is bounded by (watermark horizon / slide) × key
cardinality. Shuffle partitions (= state store partitions) are fixed per
query via ``spark.sql.shuffle.partitions`` at session level — AQE does not
re-plan streaming stages.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from airflow_dags_spark.functions.localframe import tiny_df

from airflow_dags_spark.operators.upsert import ParquetTable

# The driver events table shape (FIXTURES.md §A) as a streaming fixture
# schema; timestamps arrive as ISO strings in landing files and are cast at
# the scan so event time is a true TimestampType.
EVENTS_LANDING_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType(), True),
        T.StructField("ts", T.TimestampType(), True),
        T.StructField("user_id", T.LongType(), True),
        T.StructField("event_type", T.StringType(), True),
        T.StructField("value", T.DoubleType(), True),
        T.StructField("props", T.StringType(), True),
    ]
)


def read_event_stream(
    spark: SparkSession,
    landing_dir: str,
    *,
    schema: T.StructType = EVENTS_LANDING_SCHEMA,
) -> DataFrame:
    """S2-as-stream: incremental scan of a JSON landing directory; each new
    file is a micro-batch (replaces the reference's 100k-row buffer loop,
    dags/initial_price_paid_data.py:103-117)."""
    return spark.readStream.schema(schema).json(landing_dir)


def dedup_within_watermark(
    df: DataFrame, keys: list[str], ts_col: str = "ts", delay: str = "1 day"
) -> DataFrame:
    """T3 in event time — re-delivered rows inside the watermark horizon are
    dropped, the streaming analog of ``ON CONFLICT DO NOTHING``
    (dags/monthly_price_paid_data.py:153). The watermark is T1's
    ``last_updated_sale <= yesterday`` staleness horizon (1-day default,
    dags/pull_new_sales_list.py:92,97).

    ``dropDuplicatesWithinWatermark`` holds keys only and evicts each one
    once the watermark passes it, whether or not the event-time column is
    among the keys — so a retry the producer restamped with a different
    event time still dedups, and state stays bounded (plain
    ``dropDuplicates(keys)`` would hold every key forever)."""
    return df.withWatermark(ts_col, delay).dropDuplicatesWithinWatermark(keys)


def tumbling_counts(
    df: DataFrame,
    window_len: str = "1 hour",
    *,
    slide: str | None = None,
    ts_col: str = "ts",
    delay: str = "1 day",
    group_cols: list[str] | None = None,
) -> DataFrame:
    """T5/T6 — watermarked tumbling (or, with ``slide``, sliding/hopping)
    window aggregation — the streaming form of plans/windowed.py's batch
    ``window()`` queries, same output shape. Sliding windows multiply state
    by window/slide overlapping windows per event; the watermark still
    bounds total state."""
    win = (
        F.window(F.col(ts_col), window_len, slide)
        if slide
        else F.window(F.col(ts_col), window_len)
    )
    grouped = df.withWatermark(ts_col, delay).groupBy(
        win.alias("w"),
        *(group_cols or ["event_type"]),
    )
    return grouped.agg(
        F.count("*").alias("n_events"),
        F.sum("value").alias("sum_value"),
    ).select(
        F.col("w.start").alias("window_start"),
        F.col("w.end").alias("window_end"),
        *(group_cols or ["event_type"]),
        "n_events",
        "sum_value",
    )


def session_counts(
    df: DataFrame,
    gap: str = "30 minutes",
    *,
    ts_col: str = "ts",
    delay: str = "1 day",
    key_col: str = "user_id",
) -> DataFrame:
    """T6 — session windows (gap-based), absent from the reference, mandated
    by the north star; state bounded by watermark eviction."""
    return (
        df.withWatermark(ts_col, delay)
        .groupBy(F.session_window(F.col(ts_col), gap).alias("w"), F.col(key_col))
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("sum_value"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            key_col,
            "n_events",
            "sum_value",
        )
    )


def _start_sink(
    df: DataFrame,
    write_batch: Callable[[DataFrame, int], None],
    checkpoint_dir: str,
) -> StreamingQuery:
    """The one ``foreachBatch`` starter behind every sink below:
    ``write_batch(batch, batch_id)`` runs once per micro-batch, the
    checkpoint records which batches committed, and
    ``Trigger.AvailableNow`` drains the backlog then stops — the exact
    semantics of one cron DAG run (T5). A batch that crashed before its
    checkpoint commit is replayed with the same id, so every
    ``write_batch`` must be idempotent per batch id."""
    return (
        df.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def merge_sink(
    df: DataFrame,
    table: ParquetTable,
    *,
    order_by: list[str],
    checkpoint_dir: str,
    update_cols: list[str] | None = None,
) -> StreamingQuery:
    """T2+T3 — ``foreachBatch`` → engine MERGE: every micro-batch is an
    idempotent keyed upsert, the streaming generalization of the reference's
    per-batch commit loop (dags/monthly_price_paid_data.py:140-160)."""

    def upsert_batch(batch: DataFrame, batch_id: int) -> None:
        table.merge_upsert(batch, order_by=order_by, update_cols=update_cols)

    return _start_sink(df, upsert_batch, checkpoint_dir)


def run_to_table(
    stream_df: DataFrame, out_path: str, checkpoint_dir: str
) -> StreamingQuery:
    """Drain a (windowed) stream to parquet with AvailableNow — one cron-run
    equivalent. Append mode (the only mode the file sink accepts) emits
    only watermark-finalized windows; the file sink's own commit log makes
    the output exactly-once, so this sink needs no ``foreachBatch``."""
    return (
        stream_df.writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def interval_join_streams(
    left: DataFrame,
    right: DataFrame,
    key: str,
    *,
    left_ts: str = "ts",
    right_ts: str = "ts",
    within: str = "1 hour",
    delay: str = "1 day",
    right_prefix: str = "r_",
) -> DataFrame:
    """Stream-stream inner join: left rows matched to right rows with the
    same key where ``right_ts ∈ [left_ts - within, left_ts]``.

    Both sides carry watermarks + the time-range condition bounds state:
    each side buffers only rows inside (watermark + within) — without the
    range predicate a stream-stream join must buffer EVERYTHING forever.
    The attribution-join shape (click ⋈ recent purchase) of the reference's
    enrichment pattern, continuous."""
    r = right.select(
        F.col(key).alias(f"{right_prefix}{key}"),
        F.col(right_ts).alias(f"{right_prefix}ts"),
        *[
            F.col(c).alias(f"{right_prefix}{c}")
            for c in right.columns
            if c not in (key, right_ts)
        ],
    )
    l_w = left.withWatermark(left_ts, delay)
    r_w = r.withWatermark(f"{right_prefix}ts", delay)
    cond = (
        (F.col(key) == F.col(f"{right_prefix}{key}"))
        & (F.col(f"{right_prefix}ts") >= F.col(left_ts) - F.expr(f"INTERVAL {within}"))
        & (F.col(f"{right_prefix}ts") <= F.col(left_ts))
    )
    return l_w.join(r_w, cond, "inner").drop(f"{right_prefix}{key}")


def _parse_ttl_ms(ttl: str) -> int:
    import re

    m = re.match(r"(\d+)\s*(hour|minute|second|day)s?", ttl)
    if not m:
        raise ValueError(f"unparseable ttl: {ttl!r}")
    unit_ms = {"second": 1_000, "minute": 60_000, "hour": 3_600_000, "day": 86_400_000}
    return int(m.group(1)) * unit_ms[m.group(2)]


def _keyed_state(
    df: DataFrame,
    key_col: str,
    state_fields: list[tuple[str, T.DataType]],
    out_fields: list[tuple[str, T.DataType]],
    fold: Callable,
    *,
    horizon: str,
    ts_col: str | None = None,
) -> DataFrame:
    """The one per-key state skeleton (the grouped-map pandas API with
    ``GroupState``, Arrow-batched) behind the custom stateful operators
    below. An operator supplies only its fold,
    ``fold(prev, pdf) -> (state, row)``: ``prev`` is the key's stored state
    tuple (None for a new or evicted key), ``pdf`` all of the key's rows in
    this micro-batch, ``state`` the tuple to store and ``row`` the values
    of ``out_fields`` to emit after the key column, or None to emit
    nothing.

    State is bounded the same way for every operator: an invocation for a
    timed-out key removes its state and emits nothing (a later arrival
    restarts the fold from scratch), and every update re-arms the timeout.

    - ``ts_col`` set — event time, update output mode: the stream is
      watermarked by ``horizon``, and the timeout is armed at (latest event
      time of the key + ``horizon``), but never at or behind the current
      watermark, which the engine rejects. State is O(keys active within
      the watermark horizon), not O(all keys ever seen).
    - ``ts_col`` None — processing time, append output mode: the timeout
      fires after ``horizon`` of processing time with no new rows for the
      key, so state is O(keys seen within the horizon)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    horizon_ms = _parse_ttl_ms(horizon)

    def schema(fields):
        return T.StructType([T.StructField(n, t, True) for n, t in fields])

    def step(key, pdfs, state):
        import pandas as pd

        if state.hasTimedOut:
            state.remove()
            return
        pdf = pd.concat(list(pdfs), ignore_index=True)
        # GroupState.getOption is a PROPERTY (calling it raises "'tuple' is
        # not callable" on the second micro-batch, once state exists)
        new_state, row = fold(state.getOption, pdf)
        state.update(new_state)
        if ts_col is None:
            state.setTimeoutDuration(horizon_ms)
        else:
            last_ms = pd.Timestamp(pdf[ts_col].max()).value // 1_000_000
            state.setTimeoutTimestamp(
                max(last_ms + horizon_ms, state.getCurrentWatermarkMs() + 1)
            )
        if row is not None:
            values = {n: [v] for (n, _), v in zip(out_fields, row)}
            yield pd.DataFrame({key_col: [key[0]], **values})

    if ts_col is None:
        mode, timeout = "append", GroupStateTimeout.ProcessingTimeTimeout
    else:
        mode, timeout = "update", GroupStateTimeout.EventTimeTimeout
        df = df.withWatermark(ts_col, horizon)
    return df.groupBy(key_col).applyInPandasWithState(
        step,
        outputStructType=schema([(key_col, T.LongType()), *out_fields]),
        stateStructType=schema(state_fields),
        outputMode=mode,
        timeoutConf=timeout,
    )


def stateful_watermark_tracker(
    df: DataFrame,
    *,
    key_col: str = "user_id",
    ts_col: str = "ts",
    delay: str = "1 day",
) -> DataFrame:
    """T1 as a CUSTOM stateful operator: per-key high-water mark maintained
    in the state store — the streaming generalization of the reference's
    ``last_updated_sale`` column (dags/pull_new_sales_list.py:267-270).

    State per key is a single (max_ts, n_seen) pair; a key idle past
    (its high-water mark + ``delay``) is evicted once the watermark passes
    that point (``_keyed_state``), so state is O(active keys)."""

    def fold(prev, pdf):
        import pandas as pd

        max_us, n = prev or (None, 0)
        ts_us = int(pdf[ts_col].astype("int64").max() // 1000)
        max_us = ts_us if max_us is None else max(max_us, ts_us)
        n += len(pdf)
        return (max_us, n), (pd.Timestamp(max_us * 1000), n)

    return _keyed_state(
        df,
        key_col,
        [("max_ts_us", T.LongType()), ("n_seen", T.LongType())],
        [("high_water_ts", T.TimestampType()), ("n_seen", T.LongType())],
        fold,
        horizon=delay,
        ts_col=ts_col,
    )


def ewma_tracker(
    df: DataFrame,
    *,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    alpha: float = 0.3,
    delay: str = "1 day",
) -> DataFrame:
    """Streaming EWMA per key (the real-time form of
    functions/timeseries.py), carrying ONE float of state per key —
    s ← α·x + (1-α)·s folded over each micro-batch in (ts, event_id) order,
    continuing from the stored value. A key idle past (its last event
    time + ``delay``) is evicted once the watermark passes that point
    (``_keyed_state``), so state is O(ACTIVE keys), not O(all keys ever
    seen), regardless of stream length.

    Contract: per-key order ACROSS micro-batches follows arrival order
    (source-ordered feeds — the reference's dated landing files — satisfy
    this); within a batch rows are sorted by event time."""

    def fold(prev, pdf):
        s, n = prev or (None, 0)
        pdf = pdf.sort_values([ts_col, "event_id"], kind="mergesort")
        for x in pdf[value_col].dropna():
            s = float(x) if s is None else alpha * float(x) + (1 - alpha) * s
            n += 1
        return (s, n), (s, n)

    return _keyed_state(
        df,
        key_col,
        [("ewma", T.DoubleType()), ("n_seen", T.LongType())],
        [("ewma", T.DoubleType()), ("n_seen", T.LongType())],
        fold,
        horizon=delay,
        ts_col=ts_col,
    )


def stateful_dedup_ttl(
    df: DataFrame,
    *,
    key_col: str = "event_id",
    ttl: str = "24 hours",
) -> DataFrame:
    """T3 in processing time: emit each key the FIRST time it is seen (with
    the number of its rows in that micro-batch), drop redeliveries while
    its state lives, and treat the key as first-seen again after ``ttl``.

    The reference achieves at-most-once insertion with
    ``ON CONFLICT DO NOTHING`` (dags/monthly_price_paid_data.py:153) — an
    unbounded uniqueness index in Postgres. Here the dedup horizon is
    explicit: state is O(keys seen within the TTL), so a 100 TB/day stream
    holds a day of keys, not an ever-growing index. The event-time form is
    ``dedup_within_watermark``.

    Re-emit after ``ttl`` does NOT depend on timer callbacks: the TTL is
    checked against the stored first-seen stamp on every access, while the
    processing-time timeout of ``_keyed_state`` evicts idle keys. Runs on
    the default state store with stock Spark."""
    ttl_ms = _parse_ttl_ms(ttl)

    def fold(prev, pdf):
        import time

        now_ms = int(time.time() * 1000)
        if prev is not None and now_ms - prev[0] <= ttl_ms:
            return prev, None
        return (now_ms,), (len(pdf),)

    return _keyed_state(
        df,
        key_col,
        [("first_seen_ms", T.LongType())],
        [("first_seen_batch_rows", T.LongType())],
        fold,
        horizon=ttl,
    )


def cms_sink(
    df: DataFrame,
    key_col: str,
    cms_path: str,
    checkpoint_dir: str,
    *,
    depth: int = 4,
    width: int = 2048,
) -> StreamingQuery:
    """Streaming heavy-hitters: per micro-batch Count-Min sketches persisted
    as ``<cms_path>/batch=<id>/`` — state is ≤ depth×width rows per batch
    no matter the stream volume, and the batch-id directory layout makes
    re-delivered batches IDEMPOTENT (same dir overwritten, never
    double-counted — the failure mode a naive merge-in-place sink has).
    Query side: ``read_cms`` merges on read (counter sums are associative);
    compact old batch dirs with one ``cms_merge`` write when they pile up.
    """
    from airflow_dags_spark.functions.probabilistic import cms_build

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        cms_build(batch, key_col, depth, width).write.mode("overwrite").parquet(
            f"{cms_path}/batch={batch_id}"
        )

    return _start_sink(df, write_batch, checkpoint_dir)


def read_cms(spark: SparkSession, cms_path: str) -> DataFrame:
    """Merge-on-read of a ``cms_sink`` directory: one counter table."""
    from airflow_dags_spark.functions.probabilistic import cms_merge

    return cms_merge(spark.read.parquet(cms_path).select("r", "b", "cnt"))


def quality_monitor_sink(
    df: DataFrame,
    expectations,
    out_path: str,
    checkpoint_dir: str,
    *,
    on_violation=None,
) -> StreamingQuery:
    """Streaming data-quality monitor: run a ``functions.quality
    .Expectations`` suite over EVERY micro-batch and append the per-batch
    report (batch_id, constraint, observed, passed) to a quality-history
    table — the continuous form of the batch DQ audit, playing the role of
    the reference's failure callbacks (SURVEY §2.8 U4) but with observable
    metrics instead of a log line.

    ``on_violation(batch_id, failed_rows)`` fires when any constraint
    fails (wire ``jobs/notify.py`` here for the webhook path); the report
    row is written either way, so alert delivery failures never lose the
    audit trail. Exactly-once: foreachBatch + checkpoint make each batch's
    report idempotent under replay (overwrite by batch_id partition)."""
    def audit_batch(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        report = expectations.run(batch).withColumn(
            "batch_id", F.lit(batch_id).cast("bigint")
        )
        rows = report.collect()  # bounded: one row per constraint
        spark = batch.sparkSession
        out = tiny_df(spark, [tuple(r) for r in rows], report.schema)
        (
            out.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(out_path)
        )
        failed = [r for r in rows if not r["passed"]]
        if failed and on_violation is not None:
            on_violation(batch_id, failed)

    return _start_sink(df, audit_batch, checkpoint_dir)


def screened_ingest_sink(
    docs_stream: DataFrame,
    store_path: str,
    accepted_path: str,
    flagged_path: str,
    checkpoint_dir: str,
    *,
    key_col: str = "doc_id",
    text_col: str = "text",
    n_shingle: int = 3,
    salts: list[str] | None = None,
    append_matched: bool = False,
    advisory_path: str | None = None,
) -> StreamingQuery:
    """Near-dup-screened streaming ingest: every micro-batch is signed,
    screened against the persistent MinHash signature store, and routed —
    novel docs to ``accepted_path``, near-dup candidates (with their
    matched store doc and band count) to ``flagged_path`` for exact
    verification. The streaming composition of
    ``operators.ingest.MinhashSignatureStore`` (sign-once store, K3
    idempotent append) with the T2/T3 micro-batch discipline above.

    Every write is a keyed insert-if-absent, so at-least-once re-delivery
    of a batch re-screens but never duplicates the store or either route —
    the streaming analog of the reference's ON CONFLICT DO NOTHING loop
    (dags/monthly_price_paid_data.py:153). Docs inside ONE batch that are
    near-dups of each other both pass the store screen (the store compares
    against PRIOR state); run ``minhash_candidate_pairs`` on the batch as
    a pre-step where intra-batch dedup matters.

    Replay determinism: the screen is a pure function of (pre-batch
    store, batch) — store rows keyed by any batch member are excluded
    (operators/dedup.py: minhash_incremental_screen), so replaying a
    batch reproduces the identical routing no matter where a crash fell
    (before the routes, between them, after the store append but before
    the checkpoint commit). Routes still write before the store append so
    the store never gets ahead of the routed output.

    **Cross-batch recall loss from that exclusion** (the price of replay
    determinism, beyond the intra-batch case above): if a batch
    re-delivers an OLD key K (stored rounds ago) alongside a NEW doc D
    that is a near-dup of K, K's store rows are excluded from D's screen,
    so D routes as novel — and since both routes are insert-if-absent and
    never re-screened, D is accepted permanently. The key-only
    self-exclusion this replaced did not have that miss (it only excluded
    each doc's own key). Mitigations: dedup re-delivered old keys
    upstream (an anti-join of the batch against the store's key column
    before this sink), or pass ``advisory_path`` — the sink then runs the
    second advisory pass (``MinhashSignatureStore.advisory_redelivery``)
    over exactly the excluded-but-preexisting store rows and persists its
    hits there as flags-after-the-fact (keyed insert-if-absent; routing
    and replay determinism untouched). (A FRESH checkpoint
    that re-BATCHES history differently is a reprocess, not a replay:
    batch boundaries define what "prior state" means, so a cross-batch
    near-dup pair that lands in one reprocessed batch screens as novel;
    flags are advisory candidates for exact verification, and no surface
    ever duplicates.)

    100 TB shape: signing cost is per NEW document only; the screen
    shuffles band signatures (bucket-pruned), never text; both route
    writes anti-join on the key column alone; store growth is
    ~130 B/doc, independent of batch count.
    """
    from airflow_dags_spark.operators.ingest import MinhashSignatureStore

    def screen_batch(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        # n_shingle/salts MUST match how the store was built: a mismatched
        # band set would screen on the wrong signatures and then fail the
        # append on missing band columns — pass the store's configuration
        # through, never assume the defaults
        store = MinhashSignatureStore(
            spark, store_path, key_col, n_shingle=n_shingle, salts=salts
        )
        screen, new_bands = store.screen(batch, text_col)
        flagged_keys = screen.where(F.col("matched_store_doc").isNotNull())
        accepted = batch.join(
            flagged_keys.select(key_col), key_col, "left_anti"
        )
        flagged = batch.join(
            flagged_keys.select(
                key_col, "matched_store_doc", "n_matching_bands"
            ),
            key_col,
        )
        # first-wins by text: duplicate keys with conflicting payloads
        # must persist a deterministic survivor on every route
        ParquetTable(spark, accepted_path, key_col).insert_if_absent(
            accepted, order_by=[text_col]
        )
        ParquetTable(spark, flagged_path, key_col).insert_if_absent(
            flagged, order_by=[text_col]
        )
        if advisory_path is not None:
            # flags-after-the-fact for the cross-batch re-delivery miss:
            # advisory only — the routes above never consult this table.
            # Keyed by (key, batch_id): a key can be legitimately flagged
            # again by a LATER batch (re-delivered next to a different
            # near-dup) and an audit table that silently drops the second
            # flag is lying; replay of the SAME batch still no-ops because
            # the advisory pass is replay-pure for a fixed batch id
            advisories = store.advisory_redelivery(new_bands).withColumn(
                "batch_id", F.lit(batch_id).cast("bigint")
            )
            ParquetTable(
                spark, advisory_path, [key_col, "batch_id"]
            ).insert_if_absent(
                advisories, order_by=["advisory_matched_store_doc"]
            )
        # store append LAST (see docstring: replay consistency)
        store.append_signatures(
            new_bands, screen, append_matched=append_matched
        )

    return _start_sink(docs_stream, screen_batch, checkpoint_dir)


def _ledger_namespace(checkpoint_dir: str) -> str:
    """Per-checkpoint ledger-key namespace shared by the index-maintenance
    sinks: micro-batch ids restart at 0 with every fresh checkpoint, so
    ledger keys are ``<md5(canonical_dir)[:12]>:b<batch_id>`` — replay
    detection scoped to the one checkpoint whose batch ids are actually
    comparable.

    The hashed path is CANONICALIZED first (ADVICE r9): a namespace
    derived from the raw spelling would change between restarts of the
    SAME stream that pass the checkpoint as relative vs absolute vs
    ``file:``-URI — and a changed namespace re-folds already-committed
    batches (double-counting their vectors). Local paths go through
    ``os.path.abspath``; ``file:`` URIs are reduced to their
    canonicalized local path; other URI schemes (s3a://, hdfs://) have no
    local canonical form and hash as spelled minus trailing slashes —
    spell them consistently across restarts."""
    import hashlib
    import os

    p = checkpoint_dir.rstrip("/")
    if p.startswith("file:"):
        # file:/x, file:///x → /x (URI → canonical local path)
        local = p[len("file:"):]
        while local.startswith("//"):
            local = local[1:]
        p = os.path.abspath(local)
    elif "://" not in p:
        p = os.path.abspath(p)
    return hashlib.md5(p.encode("utf-8")).hexdigest()[:12]


def _ann_store_sink(
    store_cls,
    shape: tuple,
    vec_stream: DataFrame,
    store_path: str,
    checkpoint_dir: str,
    *,
    key_col: str,
    vec_col: str,
    fit_sample: int,
    seed: int,
    sample_hex: str,
    refit_drift_threshold: float | None,
) -> StreamingQuery:
    """The shared body of :func:`ivf_index_sink` and
    :func:`pq_codebook_sink`: per micro-batch, init the store with
    ``shape`` (its ``init_from`` model-shape arguments) or fold the batch
    in, then optionally refit."""
    ledger_ns = _ledger_namespace(checkpoint_dir)

    def fold_batch(batch: DataFrame, batch_id: int) -> None:
        # null vectors carry no assignment signal, and an all-null FIRST
        # batch would otherwise crash the fit on an empty sample and kill
        # the streaming query
        batch = batch.where(F.col(vec_col).isNotNull())
        if batch.isEmpty():
            return
        store = store_cls(
            batch.sparkSession, store_path, key_col=key_col, vec_col=vec_col
        )
        bid = f"{ledger_ns}:b{batch_id}"
        if not store.exists():
            store.init_from(
                batch,
                *shape,
                batch_id=bid,
                fit_sample=fit_sample,
                seed=seed,
                sample_hex=sample_hex,
            )
            return
        store.add_batch(batch, bid, sample_hex=sample_hex)
        if refit_drift_threshold is not None:
            store.maybe_refit(
                f"{bid}:refit",
                drift_threshold=refit_drift_threshold,
                fit_sample=fit_sample,
                seed=seed,
            )

    return _start_sink(vec_stream, fold_batch, checkpoint_dir)


def ivf_index_sink(
    vec_stream: DataFrame,
    store_path: str,
    checkpoint_dir: str,
    *,
    n_cells: int = 16,
    key_col: str = "vec_id",
    vec_col: str = "embedding",
    fit_sample: int = 20000,
    seed: int = 42,
    sample_hex: str = "4",
    refit_drift_threshold: float | None = None,
) -> StreamingQuery:
    """Streaming maintenance of the persistent IVF index — the similarity
    analog of :func:`screened_ingest_sink` over
    ``operators/ann_store.py:IvfIndexStore``: the FIRST micro-batch trains
    the coarse quantizer and seeds the per-cell sufficient statistics;
    every later batch is assigned to the CURRENT centroids (Arrow matmul
    fast path, shuffle-free) and folded in as one new state version, so
    the index re-centers as the corpus grows without ever re-scanning it.
    ``refit_drift_threshold`` arms the RE-TRAIN side of the drift policy
    (mirroring :func:`pq_codebook_sink`): after each fold, if the
    centroids have re-centered further than the threshold from the last
    fit, the coarse quantizer is re-trained from the md5-sampled
    reservoir as a ledger-flagged refit version.

    Exactly-once per micro-batch WITHOUT relying on the checkpoint alone:
    the store's batch ledger (one put-if-absent entry per version, keyed
    by batch id) makes a replayed committed batch a no-op, and a crash
    between the state write and the ledger commit leaves an orphan state
    dir no reader sees, which the replay supersedes. Ledger keys are
    NAMESPACED by the checkpoint location
    (``<md5(checkpoint_dir)[:12]>:b<batch_id>``): micro-batch ids restart
    at 0 with every fresh checkpoint, so a bare ``b{batch_id}`` key would
    make a NEW stream (or a second stream) against an existing store
    collide with the old run's ledger rows and silently drop whole batches
    as "replays" — the namespace keeps replay detection scoped to the one
    checkpoint whose batch ids are actually comparable. (The screened-sink
    caveat still applies: a FRESH checkpoint that re-BATCHES history
    differently is a reprocess, not a replay — its batches apply as new
    folds.)

    100 TB shape: per-batch cost is one scan of the batch plus k×dim
    partial sums to the driver; state is k×dim rows per version — index
    maintenance cost is a function of ARRIVING data only."""
    from airflow_dags_spark.operators.ann_store import IvfIndexStore

    return _ann_store_sink(
        IvfIndexStore, (n_cells,), vec_stream, store_path, checkpoint_dir,
        key_col=key_col, vec_col=vec_col, fit_sample=fit_sample, seed=seed,
        sample_hex=sample_hex, refit_drift_threshold=refit_drift_threshold,
    )


def pq_codebook_sink(
    vec_stream: DataFrame,
    store_path: str,
    checkpoint_dir: str,
    *,
    m: int = 4,
    n_codes: int = 16,
    key_col: str = "vec_id",
    vec_col: str = "embedding",
    fit_sample: int = 20000,
    seed: int = 42,
    sample_hex: str = "4",
    refit_drift_threshold: float | None = None,
) -> StreamingQuery:
    """Streaming maintenance of the persistent PQ codebooks — the
    product-quantization sibling of :func:`ivf_index_sink` over
    ``operators/ann_store.py:PqCodebookStore``: the first micro-batch
    trains the codebooks and seeds the per-(subspace, code) statistics;
    every later batch is encoded against the CURRENT codebooks
    (Arrow-batched argmin, shuffle-free) and folded in as one new version,
    feeding the deterministic md5-sampled reservoir as it goes.

    ``refit_drift_threshold`` arms the RE-TRAIN side of the drift policy:
    after each fold, if the codes have re-centered further than the
    threshold from the last fit, the codebooks are re-trained from the
    reservoir as a ledger-flagged refit version (``maybe_refit``). Leave
    ``None`` to fold-only and drive refits out-of-band.

    Same exactly-once discipline as the IVF sink: ledger keys are
    namespaced per checkpoint (batch ids restart at 0 with a fresh
    checkpoint), replayed batches no-op, orphan versions heal. Per-batch
    cost is one encode pass + n_codes × dim partials to the driver; a
    refit reads the bounded reservoir, never the corpus."""
    from airflow_dags_spark.operators.ann_store import PqCodebookStore

    return _ann_store_sink(
        PqCodebookStore, (m, n_codes), vec_stream, store_path, checkpoint_dir,
        key_col=key_col, vec_col=vec_col, fit_sample=fit_sample, seed=seed,
        sample_hex=sample_hex, refit_drift_threshold=refit_drift_threshold,
    )


def pack_stream_sink(
    doc_stream: DataFrame,
    store_path: str,
    checkpoint_dir: str,
    *,
    key_col: str = "doc_id",
    text_col: str = "text",
    key_bucket_width: int = 65536,
) -> StreamingQuery:
    """Streaming maintenance of the persistent token-stream cursor — the
    packing sibling of :func:`ivf_index_sink` over
    ``operators/packing.py:TokenStreamStore``: each micro-batch of
    documents is packed onto the END of the concatenated token stream
    (two-phase prefix scan of the BATCH plus a one-row cursor update),
    so the dataloader layout of already-committed data never moves and
    packing cost follows ARRIVING data, not corpus size.

    Stream order = micro-batch arrival order, then ascending key within
    a batch — deterministic for a deterministic source split, which is
    what keeps the store oracle-checkable end-to-end. Same exactly-once
    discipline as the other store sinks: ledger keys are namespaced per
    checkpoint (micro-batch ids restart at 0 with a fresh checkpoint),
    replayed batches no-op on the ledger, and a crash between the
    assignment/state writes and the ledger commit is healed by the
    replay, which writes fresh dirs (same cursor base → identical
    offsets)."""
    from airflow_dags_spark.functions.text import token_count
    from airflow_dags_spark.operators.packing import TokenStreamStore

    ledger_ns = _ledger_namespace(checkpoint_dir)

    def fold_batch(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        counts = batch.select(
            F.col(key_col), token_count(text_col).alias("__n")
        )
        store = TokenStreamStore(
            batch.sparkSession, store_path, key_col=key_col
        )
        store.append_batch(
            counts, "__n", f"{ledger_ns}:b{batch_id}",
            key_bucket_width=key_bucket_width,
        )

    return _start_sink(doc_stream, fold_batch, checkpoint_dir)
