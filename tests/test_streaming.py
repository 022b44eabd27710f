"""Streaming surface tests (SURVEY.md §7 Phase 5): rows-only self-verifying
checks — write landing files, drain with AvailableNow, assert results.
Late/duplicate fixtures exercise watermark and dedup semantics."""

from __future__ import annotations

import json

import pytest

from pyspark.sql import functions as F

from airflow_dags_spark.operators.upsert import ParquetTable
from airflow_dags_spark.streaming.pipeline import (
    dedup_within_watermark,
    ewma_tracker,
    merge_sink,
    read_event_stream,
    run_to_table,
    session_counts,
    stateful_dedup_ttl,
    stateful_watermark_tracker,
    tumbling_counts,
)


def event(event_id, ts, user_id=1, event_type="click", value=1.0, props="{}"):
    return {
        "event_id": event_id,
        "ts": ts,
        "user_id": user_id,
        "event_type": event_type,
        "value": value,
        "props": props,
    }


def land(tmp_path, name, events):
    d = tmp_path / "landing"
    d.mkdir(exist_ok=True)
    (d / name).write_text("\n".join(json.dumps(e) for e in events) + "\n")
    return str(d)


def drain(stream_df, tmp_path, out_name):
    out = str(tmp_path / out_name)
    q = run_to_table(stream_df, out, str(tmp_path / f"ckpt_{out_name}"))
    q.awaitTermination(120)
    return out


def drain_appending(stream_df, out, ckpt, mode):
    """Drain a stateful operator's output (``mode``: its output mode) with
    AvailableNow, appending every micro-batch to parquet at ``out``. The
    file sink accepts only append mode; update-mode operators need this
    ``foreachBatch`` drain."""
    q = (
        stream_df.writeStream.foreachBatch(
            lambda batch, _id: batch.write.mode("append").parquet(out)
        )
        .option("checkpointLocation", ckpt)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)


def test_tumbling_counts_stream(spark, tmp_path):
    landing = land(
        tmp_path,
        "b1.json",
        [
            event(1, "2026-01-01 10:05:00", event_type="click", value=2.0),
            event(2, "2026-01-01 10:55:00", event_type="click", value=3.0),
            event(3, "2026-01-01 11:05:00", event_type="view", value=5.0),
            # far-future row pushes the watermark past the 10:00 and 11:00
            # windows so append mode finalizes them
            event(4, "2026-01-05 00:00:00", event_type="tick", value=0.0),
        ],
    )
    stream = read_event_stream(spark, landing)
    out = drain(tumbling_counts(stream, "1 hour"), tmp_path, "tumbling")
    got = {
        (str(r["window_start"]), r["event_type"]): (r["n_events"], r["sum_value"])
        for r in spark.read.parquet(out).collect()
    }
    assert got[("2026-01-01 10:00:00", "click")] == (2, 5.0)
    assert got[("2026-01-01 11:00:00", "view")] == (1, 5.0)


def test_dedup_within_watermark_drops_redelivery(spark, tmp_path):
    """Redeliveries inside the watermark drop on the key alone, in one batch
    and across batches, also when the producer restamped the retry with a
    different event time."""
    landing = land(
        tmp_path,
        "b1.json",
        [
            event(1, "2026-01-01 10:00:00"),
            event(1, "2026-01-01 10:00:00"),  # duplicate in-batch
            event(2, "2026-01-01 10:01:00"),
            event(1, "2026-01-01 10:02:00"),  # re-delivery, same key
        ],
    )
    out = drain(
        dedup_within_watermark(read_event_stream(spark, landing), ["event_id"]),
        tmp_path,
        "dedup",
    )
    assert spark.read.parquet(out).count() == 2
    land(
        tmp_path,
        "b2.json",
        [
            event(2, "2026-01-01 10:03:00"),  # restamped retry, next batch
            event(3, "2026-01-01 10:04:00"),
        ],
    )
    drain(
        dedup_within_watermark(read_event_stream(spark, landing), ["event_id"]),
        tmp_path,
        "dedup",
    )
    rows = spark.read.parquet(out).collect()
    assert sorted(r.event_id for r in rows) == [1, 2, 3]


def test_native_dedup_within_watermark_drops_restamped_retries(spark, tmp_path):
    """dropDuplicatesWithinWatermark: a redelivery with a DIFFERENT event
    time (producer restamped the retry) in the same batch still dedups on
    the key — the case plain dropDuplicates(keys + ts) misses."""
    landing = land(
        tmp_path,
        "b1.json",
        [
            event(1, "2026-01-01 10:00:00"),
            event(1, "2026-01-01 10:03:00"),  # restamped retry: same key
            event(2, "2026-01-01 10:01:00"),
        ],
    )
    stream = read_event_stream(spark, landing)
    deduped = dedup_within_watermark(stream, ["event_id"])
    out = drain(deduped.select("event_id", "user_id"), tmp_path, "native_dedup")
    rows = spark.read.parquet(out).collect()
    assert sorted(r.event_id for r in rows) == [1, 2]


def test_session_counts_gap_split(spark, tmp_path):
    landing = land(
        tmp_path,
        "b1.json",
        [
            event(1, "2026-01-01 10:00:00", user_id=7, value=1.0),
            event(2, "2026-01-01 10:10:00", user_id=7, value=1.0),  # same session
            event(3, "2026-01-01 12:00:00", user_id=7, value=1.0),  # new session
            event(4, "2026-01-05 00:00:00", user_id=9),  # watermark pusher
        ],
    )
    stream = read_event_stream(spark, landing)
    out = drain(session_counts(stream, "30 minutes"), tmp_path, "sessions")
    sessions = [
        (r["n_events"], str(r["session_start"]))
        for r in spark.read.parquet(out).where(F.col("user_id") == 7).collect()
    ]
    assert sorted(sessions) == [(1, "2026-01-01 12:00:00"), (2, "2026-01-01 10:00:00")]


def test_merge_sink_idempotent_upsert(spark, tmp_path):
    """foreachBatch → engine MERGE: re-running the drained stream over a new
    checkpoint must not duplicate rows (T3 idempotency end-to-end)."""
    landing = land(
        tmp_path,
        "b1.json",
        [
            event(1, "2026-01-01 10:00:00", value=1.0),
            event(2, "2026-01-01 10:01:00", value=2.0),
        ],
    )
    table = ParquetTable(spark, str(tmp_path / "tbl"), "event_id")

    def run(ckpt):
        q = merge_sink(
            read_event_stream(spark, landing),
            table,
            order_by=["event_id"],
            checkpoint_dir=str(tmp_path / ckpt),
        )
        q.awaitTermination(120)

    run("ckpt1")
    assert table.read().count() == 2
    run("ckpt2")  # full re-delivery (fresh checkpoint) — merge absorbs it
    assert table.read().count() == 2
    # new batch updates value of key 1, inserts key 3
    land(
        tmp_path,
        "b2.json",
        [event(1, "2026-01-01 10:00:00", value=99.0), event(3, "2026-01-01 10:02:00")],
    )
    run("ckpt3")
    rows = {r["event_id"]: r["value"] for r in table.read().collect()}
    assert rows == {1: 99.0, 2: 2.0, 3: 1.0}


def test_stateful_watermark_tracker(spark, tmp_path):
    """Custom applyInPandasWithState operator: per-key high-water mark
    accumulates across micro-batches (T1 as a streaming state op)."""
    landing = land(
        tmp_path,
        "b1.json",
        [
            event(1, "2026-01-01 10:00:00", user_id=7),
            event(2, "2026-01-01 11:00:00", user_id=7),
            event(3, "2026-01-01 09:00:00", user_id=8),
        ],
    )
    out = str(tmp_path / "hwm")

    def drain_hwm():
        tracked = stateful_watermark_tracker(read_event_stream(spark, landing))
        drain_appending(tracked, out, str(tmp_path / "ckpt_hwm"), "update")

    drain_hwm()
    got = {r["user_id"]: (str(r["high_water_ts"]), r["n_seen"]) for r in
           spark.read.parquet(out).collect()}
    assert got[7] == ("2026-01-01 11:00:00", 2)
    assert got[8] == ("2026-01-01 09:00:00", 1)

    # second drain: per-key state must survive ACROSS micro-batches (the
    # exists=True path — GroupState.get/getOption are properties, and only
    # this path would catch calling them)
    land(tmp_path, "b2.json", [event(4, "2026-01-01 12:30:00", user_id=7)])
    drain_hwm()
    latest = {}
    for r in spark.read.parquet(out).collect():
        ts, n = str(r["high_water_ts"]), r["n_seen"]
        if r["user_id"] not in latest or n > latest[r["user_id"]][1]:
            latest[r["user_id"]] = (ts, n)
    assert latest[7] == ("2026-01-01 12:30:00", 3)  # accumulated, not reset


def test_interval_join_streams(spark, tmp_path):
    """Stream-stream join with time-range bound: clicks attributed to
    purchases at most 1h earlier, per user; outside-window and other-user
    purchases must not match."""
    from airflow_dags_spark.streaming.pipeline import interval_join_streams

    clicks_dir = tmp_path / "clicks"
    purchases_dir = tmp_path / "purchases"
    clicks_dir.mkdir(); purchases_dir.mkdir()
    (clicks_dir / "c.json").write_text(
        "\n".join(
            json.dumps(e)
            for e in [
                event(10, "2026-01-01 12:00:00", user_id=7),
                event(11, "2026-01-01 12:00:00", user_id=8),
            ]
        )
    )
    (purchases_dir / "p.json").write_text(
        "\n".join(
            json.dumps(e)
            for e in [
                event(90, "2026-01-01 11:30:00", user_id=7, value=5.0),   # in window
                event(91, "2026-01-01 10:30:00", user_id=7, value=6.0),   # too old
                event(92, "2026-01-01 12:30:00", user_id=7, value=7.0),   # after click
                event(93, "2026-01-01 11:45:00", user_id=9, value=8.0),   # other user
            ]
        )
    )
    joined = interval_join_streams(
        read_event_stream(spark, str(clicks_dir)),
        read_event_stream(spark, str(purchases_dir)),
        "user_id",
        within="1 hour",
    )
    out = drain(joined, tmp_path, "attributed")
    rows = spark.read.parquet(out).collect()
    assert [(r["event_id"], r["r_event_id"], r["r_value"]) for r in rows] == [
        (10, 90, 5.0)
    ]


def test_sliding_counts_stream(spark, tmp_path):
    """Sliding 2h/1h windows: one event lands in TWO overlapping windows."""
    landing = land(
        tmp_path,
        "b1.json",
        [
            event(1, "2026-01-01 10:30:00", event_type="click", value=2.0),
            event(2, "2026-01-05 00:00:00", event_type="tick"),  # watermark pusher
        ],
    )
    stream = read_event_stream(spark, landing)
    out = drain(
        tumbling_counts(stream, "2 hours", slide="1 hour"), tmp_path, "sliding"
    )
    starts = sorted(
        str(r["window_start"])
        for r in spark.read.parquet(out).where(F.col("event_type") == "click").collect()
    )
    assert starts == ["2026-01-01 09:00:00", "2026-01-01 10:00:00"]


def test_stream_static_broadcast_enrichment(spark, tmp_path):
    """Stream-static join: the event stream enriched from a static (tiny,
    broadcastable) dimension — the reference's area-enrichment pattern as a
    continuous pipeline. Static side needs no watermark."""
    landing = land(
        tmp_path,
        "b1.json",
        [event(1, "2026-01-01 10:00:00", user_id=7), event(2, "2026-01-01 10:01:00", user_id=8)],
    )
    users = spark.createDataFrame(
        [(7, "GB"), (9, "DE")], "user_id bigint, country string"
    )
    stream = read_event_stream(spark, landing)
    enriched = stream.join(F.broadcast(users), "user_id", "left")
    out = drain(enriched.select("event_id", "user_id", "country"), tmp_path, "enriched")
    rows = {r["event_id"]: r["country"] for r in spark.read.parquet(out).collect()}
    assert rows == {1: "GB", 2: None}


def test_stateful_dedup_ttl_first_seen_only(spark, tmp_path):
    """Processing-time TTL dedup on the default state store: a key emits
    once across micro-batches; redeliveries are suppressed."""
    out, ckpt = str(tmp_path / "seen"), str(tmp_path / "ckpt_ttl")

    def drain_ttl():
        stream = read_event_stream(spark, str(tmp_path / "landing"))
        deduped = stateful_dedup_ttl(stream, key_col="event_id", ttl="1 day")
        drain_appending(deduped, out, ckpt, "append")

    land(
        tmp_path,
        "b1.json",
        [
            event(1, "2026-01-01 10:00:00"),
            event(1, "2026-01-01 10:00:01"),  # same-batch redelivery
            event(2, "2026-01-01 10:00:02"),
        ],
    )
    drain_ttl()
    got = {
        r.event_id: r.first_seen_batch_rows for r in spark.read.parquet(out).collect()
    }
    assert got == {1: 2, 2: 1}  # key 1 emitted once, with both rows counted

    land(
        tmp_path,
        "b2.json",
        [
            event(1, "2026-01-01 11:00:00"),  # cross-batch redelivery: drop
            event(3, "2026-01-01 11:00:01"),  # new key: emit
        ],
    )
    drain_ttl()
    rows = spark.read.parquet(out).collect()
    assert sorted(r.event_id for r in rows) == [1, 2, 3]  # 1 NOT re-emitted


@pytest.mark.slow
def test_stateful_dedup_ttl_expiry_reemits(spark, tmp_path):
    """After the TTL lapses the key is first-seen again — the dedup horizon
    is bounded (state O(keys within TTL)), re-emit checked against the
    stored stamp so it does not depend on timer-callback scheduling."""
    import time

    out, ckpt = str(tmp_path / "seen"), str(tmp_path / "ckpt_ttl")

    def drain_ttl():
        stream = read_event_stream(spark, str(tmp_path / "landing"))
        deduped = stateful_dedup_ttl(stream, key_col="event_id", ttl="1 second")
        drain_appending(deduped, out, ckpt, "append")

    land(tmp_path, "b1.json", [event(9, "2026-01-01 10:00:00")])
    drain_ttl()
    time.sleep(3)  # let the 1 s TTL lapse in processing time
    land(tmp_path, "b2.json", [event(9, "2026-01-01 11:00:00")])
    drain_ttl()
    assert [r.event_id for r in spark.read.parquet(out).collect()] == [9, 9]


@pytest.mark.slow
def test_cms_sink_streaming_heavy_hitters(spark, tmp_path):
    """Per-batch CMS dirs merge-on-read to the sketch of the whole stream
    (merge law), and every estimate upper-bounds the true count."""
    from airflow_dags_spark.functions.probabilistic import cms_build
    from airflow_dags_spark.streaming.pipeline import cms_sink, read_cms

    landing = land(
        tmp_path,
        "b1.json",
        [event(i, "2026-01-01 10:00:00", user_id=i % 7) for i in range(40)],
    )
    land(
        tmp_path,
        "b2.json",
        [event(100 + i, "2026-01-01 11:00:00", user_id=i % 5) for i in range(30)],
    )
    stream = read_event_stream(spark, landing)
    cms_path = str(tmp_path / "cms")
    q = cms_sink(
        stream, "user_id", cms_path, str(tmp_path / "ckpt_cms"), width=256
    )
    q.awaitTermination(120)

    merged = {(r["r"], r["b"]): r["cnt"] for r in read_cms(spark, cms_path).collect()}
    assert merged, "no counters written"

    whole = spark.read.json(landing).select("user_id")
    want = {
        (r["r"], r["b"]): r["cnt"]
        for r in cms_build(whole, "user_id", width=256).collect()
    }
    assert merged == want  # merge-on-read == sketch of the union

    from airflow_dags_spark.functions.probabilistic import cms_estimate

    truth = whole.groupBy("user_id").agg(F.count(F.lit(1)).alias("true_cnt"))
    for r in cms_estimate(
        read_cms(spark, cms_path), truth, "user_id", width=256
    ).collect():
        assert r["cms_est"] >= r["true_cnt"]


@pytest.mark.slow
@pytest.mark.parametrize(
    "tracker", [ewma_tracker, stateful_watermark_tracker], ids=["ewma", "watermark"]
)
def test_tracker_evicts_idle_keys_past_watermark(spark, tmp_path, tracker):
    """Event-time timeout: a key idle past (last event + delay) is evicted
    when the watermark passes it — a later arrival restarts the fold from
    scratch (n_seen resets) instead of continuing stale state."""
    landing = land(
        tmp_path, "b1.json", [event(1, "2026-01-01 10:00:00", user_id=7, value=10.0)]
    )
    out = str(tmp_path / "tracked")

    def drain():
        tracked = tracker(read_event_stream(spark, landing), delay="1 hour")
        drain_appending(tracked, out, str(tmp_path / "ckpt_tracked"), "update")

    drain()
    # advance the watermark far past user 7's (10:00 + 1h) timeout…
    land(tmp_path, "b2.json", [event(2, "2026-01-05 10:00:00", user_id=8, value=1.0)])
    drain()
    # …then one more batch: user 7 has no data but HAS timed out → evicted
    land(tmp_path, "b3.json", [event(3, "2026-01-06 10:00:00", user_id=8, value=2.0)])
    drain()
    # user 7 returns: state must have been removed, so the fold restarts
    land(tmp_path, "b4.json", [event(4, "2026-01-06 11:00:00", user_id=7, value=40.0)])
    drain()
    u7 = [r["n_seen"] for r in spark.read.parquet(out).collect() if r["user_id"] == 7]
    assert sorted(u7) == [1, 1]  # fresh fold after eviction, NOT continued to 2


def test_ewma_tracker_state_survives_batches(spark, tmp_path):
    """Streaming EWMA: the recursion continues across micro-batches from
    stored state, matching the batch recursion on the full series."""
    landing = land(
        tmp_path,
        "b1.json",
        [
            event(1, "2026-01-01 10:00:00", user_id=7, value=10.0),
            event(2, "2026-01-01 11:00:00", user_id=7, value=20.0),
        ],
    )
    out = str(tmp_path / "ewma")

    def drain_ewma():
        tracked = ewma_tracker(read_event_stream(spark, landing), alpha=0.5)
        drain_appending(tracked, out, str(tmp_path / "ckpt_ewma"), "update")

    drain_ewma()
    got = {r["user_id"]: (r["ewma"], r["n_seen"]) for r in
           spark.read.parquet(out).collect()}
    assert got[7] == (15.0, 2)  # 10 -> 0.5*20+0.5*10

    land(tmp_path, "b2.json", [event(3, "2026-01-01 12:00:00", user_id=7, value=35.0)])
    drain_ewma()
    latest = {}
    for r in spark.read.parquet(out).collect():
        if r["user_id"] not in latest or r["n_seen"] > latest[r["user_id"]][1]:
            latest[r["user_id"]] = (r["ewma"], r["n_seen"])
    assert latest[7] == (25.0, 3)  # 0.5*35 + 0.5*15 — continued, not reset


def test_quality_monitor_sink_reports_per_batch(spark, tmp_path):
    """Streaming DQ: each micro-batch gets a constraint report row-set;
    violations fire the callback but never block the audit write."""
    from airflow_dags_spark.functions.quality import Expectations
    from airflow_dags_spark.streaming.pipeline import quality_monitor_sink

    landing = land(
        tmp_path,
        "b1.json",
        [
            event(1, "2026-01-01 10:00:00", user_id=7, value=5.0),
            event(2, "2026-01-01 10:01:00", user_id=8, value=-1.0),  # violates min
        ],
    )
    out = str(tmp_path / "dq_history")
    alerts = []

    def on_violation(batch_id, failed):
        alerts.append((batch_id, [r["constraint"] for r in failed]))

    exp = (
        Expectations()
        .expect_complete("user_id")
        .expect_min("value", 0.0)
        .expect_row_count(1)
    )
    q = quality_monitor_sink(
        read_event_stream(spark, landing),
        exp,
        out,
        str(tmp_path / "ckpt_dq"),
        on_violation=on_violation,
    )
    q.awaitTermination(120)

    hist = spark.read.parquet(out).collect()
    by = {r["constraint"]: r for r in hist}
    assert by["min(value)>=0.0"]["passed"] is False
    assert by["min(value)>=0.0"]["observed"] == -1.0
    assert by["complete(user_id)"]["passed"] is True
    assert alerts and alerts[0][1] == ["min(value)>=0.0"]

    # second batch: clean data → new report rows under a new batch_id
    land(tmp_path, "b2.json", [event(3, "2026-01-01 11:00:00", user_id=9, value=2.0)])
    q2 = quality_monitor_sink(
        read_event_stream(spark, landing),
        exp,
        out,
        str(tmp_path / "ckpt_dq"),
        on_violation=on_violation,
    )
    q2.awaitTermination(120)
    hist2 = spark.read.parquet(out)
    assert hist2.select("batch_id").distinct().count() == 2
    clean = hist2.where("batch_id = 1").collect()
    assert all(r["passed"] for r in clean)
    assert len(alerts) == 1  # no new violation


def test_screened_ingest_sink_routes_and_stays_idempotent(spark, tmp_path):
    """Streaming near-dup-screened ingest end-to-end: batch 1 seeds the
    signature store; batch 2 contains one novel doc, one near-dup of a
    stored doc (flagged with its matched store doc), and one re-delivered
    key (absorbed by K3 on every surface); a full fresh-checkpoint replay
    changes nothing anywhere."""
    import json as _json

    from airflow_dags_spark.streaming.pipeline import screened_ingest_sink

    texts = {
        10: "the quick brown fox jumps over the lazy dog near the old river bank today",
        11: "completely different content about distributed query engines and shuffle plans",
        12: "yet another unique document describing parquet footers and column statistics",
        # near-dup of 10 (identical text, new key) — every band matches
        20: "the quick brown fox jumps over the lazy dog near the old river bank today",
        21: "fresh novel text on watermark semantics and state store eviction policies",
    }

    def doc(k):
        return {"doc_id": k, "text": texts[k], "source": "s", "lang": "en"}

    landing = tmp_path / "docs_landing"
    landing.mkdir()
    (landing / "b1.json").write_text(
        "\n".join(_json.dumps(doc(k)) for k in (10, 11, 12)) + "\n"
    )

    def stream_df():
        return (
            spark.readStream.schema(
                "doc_id long, text string, source string, lang string"
            ).json(str(landing))
        )

    paths = {n: str(tmp_path / n) for n in ("store", "accepted", "flagged")}

    def run(ckpt):
        q = screened_ingest_sink(
            stream_df(),
            paths["store"],
            paths["accepted"],
            paths["flagged"],
            str(tmp_path / ckpt),
        )
        q.awaitTermination(120)

    run("ck1")
    acc = ParquetTable(spark, paths["accepted"], "doc_id")
    flg = ParquetTable(spark, paths["flagged"], "doc_id")
    store = ParquetTable(spark, paths["store"], "doc_id")
    assert {r.doc_id for r in acc.read().collect()} == {10, 11, 12}
    assert not flg.exists() or flg.read().count() == 0
    assert store.read().count() == 3

    # batch 2: novel 21, near-dup 20 (of stored 10), re-delivered 11
    (landing / "b2.json").write_text(
        "\n".join(_json.dumps(doc(k)) for k in (20, 21)) + "\n"
        + _json.dumps(doc(11)) + "\n"
    )
    run("ck1")  # same checkpoint: only the new file is a batch
    assert {r.doc_id for r in acc.read().collect()} == {10, 11, 12, 21}
    flagged = {r.doc_id: r for r in flg.read().collect()}
    assert set(flagged) == {20}
    assert flagged[20].matched_store_doc == 10
    assert flagged[20].n_matching_bands >= 1
    # matched docs are NOT stored by default; 21 is; 11 was absorbed
    assert store.read().count() == 4

    # same-checkpoint re-run with no new files: a committed batch is never
    # re-delivered — every surface unchanged (the streaming idempotency
    # contract; a FRESH checkpoint would be a reprocess that re-batches
    # history, which the sink documents as out of scope)
    run("ck1")
    assert {r.doc_id for r in acc.read().collect()} == {10, 11, 12, 21}
    assert {r.doc_id for r in flg.read().collect()} == {20}
    assert store.read().count() == 4


@pytest.mark.slow
def test_screened_ingest_crash_replay_keeps_intra_batch_routing(spark, tmp_path):
    """Write-order property: a batch with two INTRA-batch near-dups (same
    text, two novel keys) crashes after the route writes but before the
    store append; the replay must accept both again (flagged stays empty)
    and then land the store append. If the store ever got ahead of the
    routes, the replay would flag each doc against the other's just-stored
    signature — a routing the crash-free run never produces."""
    import json as _json

    from airflow_dags_spark.operators.ingest import MinhashSignatureStore
    from airflow_dags_spark.streaming.pipeline import screened_ingest_sink

    text = "identical twin document text about checkpoint recovery and exactly once sinks"
    docs = [{"doc_id": k, "text": text} for k in (30, 31)]
    landing = tmp_path / "crash_landing"
    landing.mkdir()
    (landing / "b1.json").write_text("\n".join(_json.dumps(d) for d in docs) + "\n")
    paths = {n: str(tmp_path / n) for n in ("store", "accepted", "flagged")}

    # attempt 1: the sink's work UP TO the crash point — screen + routes
    # written, store append never happens (simulated executor loss)
    batch = spark.createDataFrame(docs, "doc_id long, text string")
    store = MinhashSignatureStore(spark, paths["store"], "doc_id")
    screen, _bands = store.screen(batch, "text")
    flagged_keys = screen.where(F.col("matched_store_doc").isNotNull())
    ParquetTable(spark, paths["accepted"], "doc_id").insert_if_absent(
        batch.join(flagged_keys.select("doc_id"), "doc_id", "left_anti"),
        order_by=["text"],
    )
    assert {r.doc_id for r in ParquetTable(spark, paths["accepted"], "doc_id").read().collect()} == {30, 31}
    assert not store.exists()  # the crash: append never ran

    # replay: the real sink processes the same batch from scratch
    q = screened_ingest_sink(
        spark.readStream.schema("doc_id long, text string").json(str(landing)),
        paths["store"],
        paths["accepted"],
        paths["flagged"],
        str(tmp_path / "ck_replay"),
    )
    q.awaitTermination(120)
    acc = ParquetTable(spark, paths["accepted"], "doc_id")
    flg = ParquetTable(spark, paths["flagged"], "doc_id")
    assert {r.doc_id for r in acc.read().collect()} == {30, 31}
    assert not flg.exists() or flg.read().count() == 0
    assert {r.doc_id for r in store.read().collect()} == {30, 31}

    # the OTHER crash window: append landed, checkpoint commit did not —
    # the same batch replays against a store that already holds both
    # signatures. Batch-key exclusion must reproduce the identical
    # routing: both still accepted-only, nothing flagged.
    q = screened_ingest_sink(
        spark.readStream.schema("doc_id long, text string").json(str(landing)),
        paths["store"],
        paths["accepted"],
        paths["flagged"],
        str(tmp_path / "ck_replay2"),  # fresh checkpoint = full re-delivery
    )
    q.awaitTermination(120)
    assert {r.doc_id for r in acc.read().collect()} == {30, 31}
    assert not flg.exists() or flg.read().count() == 0
    assert {r.doc_id for r in store.read().collect()} == {30, 31}


@pytest.mark.slow
def test_screened_ingest_advisory_path_flags_cross_batch_redelivery(
    spark, tmp_path
):
    """advisory_path wired end-to-end: batch 2 re-delivers an OLD key
    alongside a NEW near-dup of it. The routes are unchanged (the near-dup
    is ACCEPTED — the documented recall loss of batch-key exclusion), but
    the advisory table records the miss as a flag-after-the-fact, and a
    no-new-files re-run leaves it untouched (keyed insert-if-absent)."""
    import json as _json

    from airflow_dags_spark.streaming.pipeline import screened_ingest_sink

    base = (
        "the quick brown fox jumps over the lazy dog near the quiet river "
        "bank while morning light settles on the water"
    )
    texts = {
        10: base,
        11: "completely different content about distributed query engines",
        30: base + " at dawn",  # batch 2: NEW near-dup of STORED 10
    }

    def doc(k, text=None):
        return {
            "doc_id": k,
            "text": text or texts[k],
            "source": "s",
            "lang": "en",
        }

    landing = tmp_path / "docs_landing"
    landing.mkdir()
    (landing / "b1.json").write_text(
        "\n".join(_json.dumps(doc(k)) for k in (10, 11)) + "\n"
    )
    paths = {
        n: str(tmp_path / n) for n in ("store", "accepted", "flagged", "adv")
    }

    def run():
        q = screened_ingest_sink(
            spark.readStream.schema(
                "doc_id long, text string, source string, lang string"
            ).json(str(landing)),
            paths["store"],
            paths["accepted"],
            paths["flagged"],
            str(tmp_path / "ck"),
            advisory_path=paths["adv"],
        )
        q.awaitTermination(120)

    run()
    adv = ParquetTable(spark, paths["adv"], "doc_id")
    assert not adv.exists() or adv.read().count() == 0  # nothing re-delivered

    (landing / "b2.json").write_text(
        # key 10 re-delivered with DRIFTED content (an identical
        # re-delivery is excluded by full-signature identity; its pairs
        # belong to the intra-batch pre-step) + NEW near-dup 30 of the
        # STORED 10
        _json.dumps(doc(10, base + " under a pale evening sky")) + "\n"
        + _json.dumps(doc(30)) + "\n"
    )
    run()
    acc = ParquetTable(spark, paths["accepted"], "doc_id")
    flg = ParquetTable(spark, paths["flagged"], "doc_id")
    # routing unchanged: the main screen cannot see 30↔10 (10's store rows
    # are excluded as a batch member), so 30 is accepted, nothing flagged
    assert {r.doc_id for r in acc.read().collect()} == {10, 11, 30}
    assert not flg.exists() or flg.read().count() == 0
    # ...but the advisory table records the miss
    advisories = {r.doc_id: r for r in adv.read().collect()}
    assert set(advisories) == {30}
    assert advisories[30].advisory_matched_store_doc == 10
    assert advisories[30].n_matching_bands >= 1
    # no-new-files re-run: advisory surface idempotent like every other
    run()
    assert adv.read().count() == 1


@pytest.mark.slow
def test_screened_ingest_advisory_keeps_later_batch_flags(spark, tmp_path):
    """ADVICE r8 (low): the advisory table is keyed (doc_id, batch_id) —
    a key flagged once can be flagged AGAIN by a later batch (re-delivered
    next to a different near-dup) and the audit table must keep both rows
    instead of silently dropping the second."""
    import json as _json

    from airflow_dags_spark.streaming.pipeline import screened_ingest_sink

    base = (
        "the quick brown fox jumps over the lazy dog near the quiet river "
        "bank while morning light settles on the water"
    )
    landing = tmp_path / "docs_landing"
    landing.mkdir()
    paths = {
        n: str(tmp_path / n) for n in ("store", "accepted", "flagged", "adv")
    }

    def run():
        q = screened_ingest_sink(
            spark.readStream.schema("doc_id long, text string").json(str(landing)),
            paths["store"],
            paths["accepted"],
            paths["flagged"],
            str(tmp_path / "ck"),
            advisory_path=paths["adv"],
        )
        q.awaitTermination(120)

    # batch 1: seed two stores docs
    (landing / "b1.json").write_text(
        _json.dumps({"doc_id": 10, "text": base}) + "\n"
        + _json.dumps({"doc_id": 11, "text": "unrelated text about broadcast joins"}) + "\n"
    )
    run()
    # batch 2: 10 re-delivered drifted + near-dup 30 -> flag (30, b1)
    (landing / "b2.json").write_text(
        _json.dumps({"doc_id": 10, "text": base + " under a pale evening sky"}) + "\n"
        + _json.dumps({"doc_id": 30, "text": base + " at dawn"}) + "\n"
    )
    run()
    # batch 3: 10 re-delivered drifted AGAIN, this time alongside a
    # re-delivery of 30 (byte-identical, so 30's OWN stored rows are
    # excluded by full-signature identity — no self flag) — 30's bands
    # still hit 10's excluded-but-preexisting stored rows, so the SAME
    # key 30 earns a SECOND advisory row in a later batch. Under the old
    # doc_id-only keying this row was silently dropped.
    (landing / "b3.json").write_text(
        _json.dumps({"doc_id": 10, "text": base + " beneath the winter moon"}) + "\n"
        + _json.dumps({"doc_id": 30, "text": base + " at dawn"}) + "\n"
    )
    run()
    adv = spark.read.parquet(paths["adv"]).collect()
    rows_30 = [r for r in adv if r.doc_id == 30]
    assert {r.advisory_matched_store_doc for r in rows_30} == {10}
    assert len(rows_30) == 2  # flagged in batch 2 AND batch 3
    assert len({r.batch_id for r in rows_30}) == 2
