"""Bloom-screened ingest (operators/ingest.py): result must be bit-identical
to plain insert_if_absent; the Bloom only changes the cost profile."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from airflow_dags_spark.operators.ingest import bloom_screened_insert_if_absent
from airflow_dags_spark.operators.upsert import ParquetTable


def _df(spark, *ids):
    return spark.createDataFrame([(i, f"v{i}") for i in ids], "id bigint, v string")


def test_first_batch_bootstraps_table_and_bloom(spark, tmp_path):
    t = ParquetTable(spark, str(tmp_path / "t"), "id")
    stats = bloom_screened_insert_if_absent(t, _df(spark, 1, 2, 3), ["id"])
    assert stats == {
        "n_batch": 3,
        "n_definite_new": 3,
        "n_maybe": 0,
        "n_inserted": 3,
    }
    assert sorted(r["id"] for r in t.read().collect()) == [1, 2, 3]


def test_overlapping_batch_matches_plain_insert_if_absent(spark, tmp_path):
    t = ParquetTable(spark, str(tmp_path / "a"), "id")
    p = ParquetTable(spark, str(tmp_path / "b"), "id")
    first = _df(spark, *range(0, 50))
    second = _df(spark, *range(40, 90))
    bloom_screened_insert_if_absent(t, first, ["id"])
    stats = bloom_screened_insert_if_absent(t, second, ["id"])
    p.insert_if_absent(first, ["id"])
    p.insert_if_absent(second, ["id"])
    got = sorted((r["id"], r["v"]) for r in t.read().collect())
    want = sorted((r["id"], r["v"]) for r in p.read().collect())
    assert got == want
    # every true duplicate was flagged maybe (no false negatives possible)
    assert stats["n_maybe"] >= 10
    assert stats["n_inserted"] == 40


def test_all_new_batch_skips_exact_join(spark, tmp_path):
    t = ParquetTable(spark, str(tmp_path / "t"), "id")
    bloom_screened_insert_if_absent(t, _df(spark, *range(100)), ["id"])
    stats = bloom_screened_insert_if_absent(
        t, _df(spark, *range(1_000_000, 1_000_050)), ["id"]
    )
    # distant keys: with m=65536 the FP odds per key are ~4%; allow a few
    assert stats["n_maybe"] <= 6
    assert stats["n_definite_new"] >= 44
    assert stats["n_inserted"] == 50
    assert t.read().count() == 150


def test_duplicate_only_batch_inserts_nothing(spark, tmp_path):
    t = ParquetTable(spark, str(tmp_path / "t"), "id")
    bloom_screened_insert_if_absent(t, _df(spark, 1, 2, 3), ["id"])
    stats = bloom_screened_insert_if_absent(t, _df(spark, 1, 2, 3), ["id"])
    assert stats["n_maybe"] == 3  # all true dups flagged
    assert stats["n_inserted"] == 0
    assert t.read().count() == 3


def test_batch_internal_dups_first_wins(spark, tmp_path):
    t = ParquetTable(spark, str(tmp_path / "t"), "id")
    src = spark.createDataFrame(
        [(1, "keep"), (1, "zz_drop"), (2, "x")], "id bigint, v string"
    )
    bloom_screened_insert_if_absent(t, src, ["v"])
    got = {r["id"]: r["v"] for r in t.read().collect()}
    assert got == {1: "keep", 2: "x"}


def _sdf(spark, *keys):
    return spark.createDataFrame(
        [(k, f"v_{k}") for k in keys], "id string, v string"
    )


def test_case_insensitive_table_screens_normalized_key(spark, tmp_path):
    """The Bloom must hash lower(key) when the table compares lower(key):
    a case-variant duplicate ('ABC' vs stored 'abc') is a TRUE duplicate to
    insert_if_absent and must probe maybe-present, not definitely-absent."""
    t = ParquetTable(spark, str(tmp_path / "t"), "id", case_insensitive=True)
    bloom_screened_insert_if_absent(t, _sdf(spark, "abc", "def"), ["id"])
    stats = bloom_screened_insert_if_absent(t, _sdf(spark, "ABC", "DeF", "new"), ["id"])
    # both case variants flagged maybe → exact join rejects them
    assert stats["n_maybe"] >= 2
    assert stats["n_inserted"] == 1
    got = sorted((r["id"], r["v"]) for r in t.read().collect())
    assert got == [("abc", "v_abc"), ("def", "v_def"), ("new", "v_new")]


def test_case_insensitive_matches_plain_insert_if_absent(spark, tmp_path):
    t = ParquetTable(spark, str(tmp_path / "a"), "id", case_insensitive=True)
    p = ParquetTable(spark, str(tmp_path / "b"), "id", case_insensitive=True)
    first = _sdf(spark, "k1", "K2", "k3")
    second = _sdf(spark, "K1", "k2", "K4")
    for tbl in (t,):
        bloom_screened_insert_if_absent(tbl, first, ["id"])
        bloom_screened_insert_if_absent(tbl, second, ["id"])
    p.insert_if_absent(first, ["id"])
    p.insert_if_absent(second, ["id"])
    got = sorted((r["id"], r["v"]) for r in t.read().collect())
    want = sorted((r["id"], r["v"]) for r in p.read().collect())
    assert got == want  # bit-identical-to-K3 contract, case-insensitive form


def test_multi_key_table_rejected(spark, tmp_path):
    t = ParquetTable(spark, str(tmp_path / "t"), ["a", "b"])
    with pytest.raises(ValueError, match="single-key"):
        bloom_screened_insert_if_absent(
            t, spark.createDataFrame([(1, 2)], "a bigint, b bigint"), ["a"]
        )


# --- MinHash signature store (near-dup screened ingest) ----------------------


def _docs(spark, rows):
    """rows: list of (doc_id, text)."""
    return spark.createDataFrame(rows, "doc_id bigint, text string")


_BASE = (
    "the quick brown fox jumps over the lazy dog near the quiet river bank "
    "while morning light settles on the water"
)


def test_signature_store_bootstrap_and_screen(spark, tmp_path):
    from airflow_dags_spark.operators.ingest import MinhashSignatureStore

    store = MinhashSignatureStore(spark, str(tmp_path / "sig"))
    first = _docs(
        spark,
        [(1, _BASE), (2, "completely different text about spark engines and "
                         "distributed shuffles across many executor nodes")],
    )
    screen1, c1 = store.ingest(first, "text")
    assert c1 == {
        "n_batch": 2,
        "n_dup_candidates": 0,
        "n_novel": 2,
        "n_appended": 2,
    }
    assert all(r.matched_store_doc is None for r in screen1.collect())
    # second batch: one near-dup of doc 1 (tail tweak), one novel doc
    second = _docs(
        spark,
        [
            (10, _BASE + " at dawn"),
            (11, "unrelated corpus entry describing parquet row groups and "
                 "column chunk statistics for pruning"),
        ],
    )
    screen2, c2 = store.ingest(second, "text")
    got = {r.doc_id: r for r in screen2.collect()}
    assert got[10].matched_store_doc == 1
    assert got[10].n_matching_bands >= 1
    assert got[11].matched_store_doc is None
    assert c2["n_dup_candidates"] == 1 and c2["n_novel"] == 1
    # default policy: matched doc's signature NOT stored
    assert c2["n_appended"] == 1
    assert sorted(r.doc_id for r in store.read().collect()) == [1, 2, 11]


def test_signature_store_replay_is_idempotent(spark, tmp_path):
    from airflow_dags_spark.operators.ingest import MinhashSignatureStore

    store = MinhashSignatureStore(spark, str(tmp_path / "sig"))
    batch = _docs(spark, [(1, _BASE), (2, _BASE.replace("quick", "sleepy"))])
    _, c1 = store.ingest(batch, "text")
    before = sorted(
        (r.doc_id, r.band_0) for r in store.read().collect()
    )
    # at-least-once delivery: the SAME batch arrives again
    screen2, c2 = store.ingest(batch, "text")
    after = sorted((r.doc_id, r.band_0) for r in store.read().collect())
    assert after == before  # store unchanged
    assert c2["n_appended"] == 0
    # batch-key exclusion: the replayed batch screens against the store AS
    # OF BEFORE the batch — neither doc can flag against its own or its
    # batch-mate's stored signature, so the replay reproduces the first
    # run's screen exactly (both novel)
    got = {r.doc_id: r for r in screen2.collect()}
    for doc_id, r in got.items():
        assert r.matched_store_doc is None


def test_signature_store_append_counts_rows_from_footers(spark, tmp_path, count_jobs, monkeypatch):
    """append_signatures counts what it appended from parquet footers: a
    replayed batch reports 0, and apart from the insert itself the call
    runs no Spark job (a DataFrame count is 2 jobs under AQE)."""
    from airflow_dags_spark.operators.ingest import MinhashSignatureStore
    from airflow_dags_spark.operators.upsert import ParquetTable

    store = MinhashSignatureStore(spark, str(tmp_path / "sig"))
    screen, bands = store.screen(_docs(spark, [(1, _BASE), (2, "an unrelated line")]), "text")
    assert store.append_signatures(bands, screen) == 2
    assert store.append_signatures(bands, screen) == 0  # replay
    monkeypatch.setattr(ParquetTable, "insert_if_absent", lambda *a, **kw: None)
    assert count_jobs(lambda: store.append_signatures(bands, screen)) == (0, 0)


def test_signature_store_replay_of_unrelated_docs_appends_nothing(
    spark, tmp_path
):
    """Replay where the batch docs are NOT near-dups of each other: the
    screen re-reports them novel (self-matches excluded, nothing else
    matches), to_append is non-empty — but insert_if_absent no-ops on the
    stored keys, and n_appended must say 0, not the batch size."""
    from airflow_dags_spark.operators.ingest import MinhashSignatureStore

    store = MinhashSignatureStore(spark, str(tmp_path / "sig"))
    batch = _docs(
        spark,
        [
            (1, _BASE),
            (2, "entirely unrelated discussion of columnar storage layouts "
                "and dictionary encoded string pages in modern file formats"),
        ],
    )
    _, c1 = store.ingest(batch, "text")
    assert c1["n_appended"] == 2
    _, c2 = store.ingest(batch, "text")
    assert c2["n_novel"] == 2  # nothing else to match against
    assert c2["n_appended"] == 0  # but the store already holds both keys
    assert store.read().count() == 2


def test_signature_store_append_matched_policy(spark, tmp_path):
    from airflow_dags_spark.operators.ingest import MinhashSignatureStore

    store = MinhashSignatureStore(spark, str(tmp_path / "sig"))
    store.ingest(_docs(spark, [(1, _BASE)]), "text")
    _, counts = store.ingest(
        _docs(spark, [(20, _BASE + " tonight")]), "text", append_matched=True
    )
    assert counts["n_dup_candidates"] == 1
    assert counts["n_appended"] == 1  # stored despite matching
    assert sorted(r.doc_id for r in store.read().collect()) == [1, 20]


def test_signature_store_screen_agrees_with_operator(spark, tmp_path):
    """Store-mediated screening must equal the pure-dataflow operator on
    the same split (the registry query's oracle-checked form)."""
    from airflow_dags_spark.operators.dedup import (
        minhash_bands,
        minhash_incremental_screen,
    )
    from airflow_dags_spark.operators.ingest import MinhashSignatureStore

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    store_docs = docs.where(F.col("doc_id") % 2 == 0)
    new_docs = docs.where(F.col("doc_id") % 2 == 1)
    store = MinhashSignatureStore(spark, str(tmp_path / "sig"))
    original_bands = minhash_bands(store_docs, "text", "doc_id")
    store._table.overwrite(original_bands, ["doc_id"])
    screen, _ = store.ingest(new_docs, "text")
    # reference screen over the PRE-ingest store (ingest mutates the table
    # by appending the novel docs' signatures after screening)
    direct = minhash_incremental_screen(
        original_bands, new_docs, "text", "doc_id"
    )
    got = sorted(map(tuple, screen.collect()))
    want = sorted(map(tuple, direct.collect()))
    # ingest appended novel docs AFTER screening — the screen frame was
    # materialized first, so the two must agree exactly
    assert got == want


def test_signature_store_string_keys_keep_schema_stable(spark, tmp_path):
    """The empty-store frame must copy the key TYPE from the batch: with
    string doc ids, matched_store_doc must be a string on the very first
    batch (not a fabricated bigint), so a downstream parquet sink's schema
    never flips between micro-batches."""
    from airflow_dags_spark.operators.ingest import MinhashSignatureStore

    store = MinhashSignatureStore(spark, str(tmp_path / "sig"), key_col="doc_id")
    b1 = spark.createDataFrame(
        [("a1", _BASE), ("b2", "another entirely different document about "
                               "broadcast joins and partition pruning")],
        "doc_id string, text string",
    )
    screen1, c1 = store.ingest(b1, "text")
    assert screen1.schema["matched_store_doc"].dataType.simpleString() == "string"
    assert c1["n_appended"] == 2
    b2 = spark.createDataFrame([("c3", _BASE + " tail")], "doc_id string, text string")
    screen2, _ = store.ingest(b2, "text")
    assert screen2.schema["matched_store_doc"].dataType.simpleString() == "string"
    assert screen2.collect()[0].matched_store_doc == "a1"


def test_signature_store_conflicting_duplicate_keys_first_wins_by_text(
    spark, tmp_path
):
    """A batch re-delivering one key with conflicting text must collapse to
    ONE deterministic survivor (first-wins by text order) — one screen row,
    one stored signature, and the signature is the min-text one."""
    from airflow_dags_spark.operators.dedup import minhash_bands
    from airflow_dags_spark.operators.ingest import MinhashSignatureStore

    store = MinhashSignatureStore(spark, str(tmp_path / "sig"))
    texts = sorted([_BASE, _BASE.replace("quick", "zealous")])
    batch = _docs(spark, [(7, texts[1]), (7, texts[0])])
    screen, counts = store.ingest(batch, "text")
    assert counts["n_batch"] == 1 and counts["n_appended"] == 1
    assert screen.count() == 1
    expected = minhash_bands(
        _docs(spark, [(7, texts[0])]), "text", "doc_id"
    ).collect()[0]
    got = store.read().collect()[0]
    assert (got.band_0, got.band_1) == (expected.band_0, expected.band_1)


def test_short_and_empty_docs_flow_through_minhash_surface(spark, tmp_path):
    """Docs with <3 tokens (or empty/NULL text) have NO shingles: bands
    must be NULL (never an element_at(toks, 0) crash — Spark's
    sequence(1, 0) DESCENDS), they screen as novel, and they match
    nothing downstream."""
    from pyspark.sql import functions as F

    from airflow_dags_spark.operators.dedup import (
        minhash_bands,
        minhash_candidate_pairs,
    )
    from airflow_dags_spark.operators.ingest import MinhashSignatureStore

    df = spark.createDataFrame(
        [(1, "hello world"), (2, ""), (3, None), (4, _BASE), (5, _BASE)],
        "doc_id long, text string",
    )
    bands = {r.doc_id: r.band_0 for r in minhash_bands(df, "text", "doc_id").collect()}
    assert bands[1] is None and bands[2] is None and bands[3] is None
    assert bands[4] is not None
    # short docs never pair; the identical long docs do
    pairs = minhash_candidate_pairs(df, "text", "doc_id").collect()
    assert [(r.key_a, r.key_b) for r in pairs] == [(4, 5)]
    store = MinhashSignatureStore(spark, str(tmp_path / "sig"))
    screen, counts = store.ingest(df.where(F.col("doc_id") <= 4), "text")
    assert counts["n_batch"] == 4 and counts["n_dup_candidates"] == 0
    # batch 2: another short doc + a near-dup of stored 4
    screen2, _ = store.ingest(
        spark.createDataFrame(
            [(6, "tiny"), (7, _BASE + " extra tail")], "doc_id long, text string"
        ),
        "text",
    )
    got = {r.doc_id: r.matched_store_doc for r in screen2.collect()}
    assert got[6] is None
    assert got[7] == 4


def test_advisory_redelivery_catches_cross_batch_miss(spark, tmp_path):
    """The ADVICE-r7 scenario: a batch re-delivers an OLD key K (stored
    rounds ago) alongside a NEW near-dup D of K, and the main screen
    reports D novel (K's store rows are batch-key excluded). The recovery
    is split by WHO owns the pair:

    - K re-delivered with DRIFTED content (stored signature differs):
      D↔K_stored is visible to nobody but the advisory pass — it must
      flag D against K, and must NOT flag K against its own stored
      signature.
    - K re-delivered byte-IDENTICAL: K's stored rows are excluded by
      full-signature identity too (replay purity — see
      minhash_redelivery_advisory), and D↔K is an INTRA-batch pair,
      which the documented pre-step (minhash_candidate_pairs) owns."""
    from airflow_dags_spark.operators.dedup import minhash_candidate_pairs
    from airflow_dags_spark.operators.ingest import MinhashSignatureStore

    store = MinhashSignatureStore(spark, str(tmp_path / "sig"))
    store.ingest(_docs(spark, [(1, _BASE)]), "text")  # K = 1, stored

    # drifted re-delivery: only the advisory pass can see D↔K_stored
    drifted = _docs(
        spark,
        [
            (1, _BASE + " under a pale evening sky"),  # K, content drifted
            (50, _BASE + " at dawn"),                   # NEW near-dup D of old K
        ],
    )
    screen, new_bands = store.screen(drifted, "text")
    got = {r.doc_id: r for r in screen.collect()}
    assert got[50].matched_store_doc is None  # the documented recall loss
    advisories = {
        r.doc_id: r for r in store.advisory_redelivery(new_bands).collect()
    }
    assert 50 in advisories  # the miss, recovered as a flag
    assert advisories[50].advisory_matched_store_doc == 1
    assert advisories[50].n_matching_bands >= 1
    assert 1 not in advisories  # K's self-match is not a near-dup signal

    # identical re-delivery: the advisory stays silent (full-signature
    # exclusion), and the intra-batch pre-step owns the D↔K pair
    identical = _docs(spark, [(1, _BASE), (60, _BASE + " at dawn")])
    _, nb2 = store.screen(identical, "text")
    assert store.advisory_redelivery(nb2).count() == 0
    pairs = {
        (r.key_a, r.key_b)
        for r in minhash_candidate_pairs(identical, "text", "doc_id").collect()
    }
    assert (1, 60) in pairs


def test_advisory_redelivery_empty_without_redelivered_keys(spark, tmp_path):
    """No batch key exists in the store → the excluded set is empty → the
    advisory pass returns nothing (it only ever looks at
    excluded-but-preexisting rows, never the whole store)."""
    from airflow_dags_spark.operators.ingest import MinhashSignatureStore

    store = MinhashSignatureStore(spark, str(tmp_path / "sig"))
    store.ingest(_docs(spark, [(1, _BASE)]), "text")
    batch = _docs(spark, [(60, _BASE + " at dusk")])  # near-dup, NEW key
    screen, new_bands = store.screen(batch, "text")
    # the main screen sees this one (key 60 is not in the store)
    assert screen.collect()[0].matched_store_doc == 1
    assert store.advisory_redelivery(new_bands).count() == 0


def test_advisory_redelivery_pure_under_replay_after_append(spark, tmp_path):
    """Replay purity of the advisory pass itself: a batch of two NEW
    intra-batch near-dups is screened, advisory'd (empty — nothing
    re-delivered), and appended; a replay AFTER the append landed must
    still produce an EMPTY advisory — the batch's own just-appended
    signatures must not read back as 'preexisting' rows (they are
    excluded by full-signature identity), or the replay would emit
    intra-batch false flags the first run never produced."""
    from airflow_dags_spark.operators.ingest import MinhashSignatureStore

    store = MinhashSignatureStore(spark, str(tmp_path / "sig"))
    batch = _docs(
        spark, [(1, _BASE), (2, _BASE + " at dawn")]  # intra-batch near-dups
    )
    screen, new_bands = store.screen(batch, "text")
    assert store.advisory_redelivery(new_bands).count() == 0  # first run
    store.append_signatures(new_bands, screen)  # append lands, then "crash"

    # the replay re-signs the same batch against the post-append store
    screen2, new_bands2 = store.screen(batch, "text")
    assert store.advisory_redelivery(new_bands2).count() == 0
    # ...while a DRIFTED re-delivery of key 1 (stored signature differs)
    # plus a new near-dup still flags through the advisory pass
    drifted = _docs(
        spark,
        [
            (1, _BASE + " under a pale sky"),   # re-delivered key, new text
            (70, _BASE + " in the evening"),    # new near-dup of stored 1
        ],
    )
    _, nb3 = store.screen(drifted, "text")
    adv = {r.doc_id: r for r in store.advisory_redelivery(nb3).collect()}
    assert 70 in adv and adv[70].advisory_matched_store_doc == 1


# --- advisory reconcile: exact-verify -> quarantine (VERDICT r8 #2) ----------


def test_reconcile_advisories_verifies_and_quarantines(spark, tmp_path):
    """End-to-end consumption of the advisory flags: the streamed scenario
    (old key re-delivered drifted + new near-dup accepted as novel) leaves
    a flag; reconcile exact-verifies it, records the audit row, and
    quarantines the confirmed near-dup through the K7 deletion-vector
    path — read_current() hides it, read() (and a later compact) owns the
    physical truth. Re-running the reconcile changes nothing."""
    import json as _json

    from airflow_dags_spark.operators.ingest import reconcile_advisories
    from airflow_dags_spark.streaming.pipeline import screened_ingest_sink

    landing = tmp_path / "docs_landing"
    landing.mkdir()
    (landing / "b1.json").write_text(
        _json.dumps({"doc_id": 10, "text": _BASE}) + "\n"
        + _json.dumps({"doc_id": 11, "text": "entirely different content on join reordering"}) + "\n"
    )
    paths = {
        n: str(tmp_path / n)
        for n in ("store", "accepted", "flagged", "adv", "verified")
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

    run()
    (landing / "b2.json").write_text(
        # key 10 re-delivered drifted + NEW near-dup 30 of stored 10
        _json.dumps({"doc_id": 10, "text": _BASE + " under a pale evening sky"}) + "\n"
        + _json.dumps({"doc_id": 30, "text": _BASE + " at dawn"}) + "\n"
    )
    run()
    acc = ParquetTable(spark, paths["accepted"], "doc_id")
    assert {r.doc_id for r in acc.read().collect()} == {10, 11, 30}

    report = reconcile_advisories(
        spark,
        paths["adv"],
        paths["accepted"],
        jaccard_threshold=0.5,
        quarantine=True,
        verified_path=paths["verified"],
    )
    rows = {r.doc_id: r for r in report.collect()}
    assert set(rows) == {30}
    assert rows[30].advisory_matched_store_doc == 10
    assert rows[30].verified and rows[30].jaccard >= 0.5
    # quarantined: logically deleted, physically still present
    assert {r.doc_id for r in acc.read_current().collect()} == {10, 11}
    assert {r.doc_id for r in acc.read().collect()} == {10, 11, 30}
    # audit trail persisted, keyed (doc_id, batch_id)
    verified = spark.read.parquet(paths["verified"]).collect()
    assert len(verified) == 1 and verified[0].verified

    # idempotent re-run: same report, no duplicate audit rows, DV stable
    report2 = reconcile_advisories(
        spark,
        paths["adv"],
        paths["accepted"],
        jaccard_threshold=0.5,
        quarantine=True,
        verified_path=paths["verified"],
    )
    assert {r.doc_id for r in report2.collect()} == {30}
    assert spark.read.parquet(paths["verified"]).count() == 1
    assert {r.doc_id for r in acc.read_current().collect()} == {10, 11}

    # compaction applies the quarantine physically
    assert acc.compact_dv() == 1
    assert {r.doc_id for r in acc.read().collect()} == {10, 11}


def test_reconcile_advisories_rejects_banding_false_positive(spark, tmp_path):
    """A flag whose exact Jaccard falls below the threshold is reported
    verified=false and NOT quarantined — the whole point of the exact
    verification tier over the banded estimate."""
    from airflow_dags_spark.operators.ingest import (
        MinhashSignatureStore,
        reconcile_advisories,
    )

    # build the surfaces by hand (no streaming needed): store doc 1, then a
    # batch that re-delivers 1 drifted alongside 80 — 80 shares SOME band
    # with stored 1 (advisory fires) but overlaps too little for the bar
    store = MinhashSignatureStore(spark, str(tmp_path / "sig"))
    batch1 = _docs(spark, [(1, _BASE)])
    store.ingest(batch1, "text")
    ParquetTable(spark, str(tmp_path / "accepted"), "doc_id").insert_if_absent(
        batch1, order_by=["text"]
    )
    batch2 = _docs(
        spark,
        [
            (1, _BASE + " under a pale evening sky"),
            (80, _BASE + " at dawn"),
        ],
    )
    screen, nb = store.screen(batch2, "text")
    adv = store.advisory_redelivery(nb).withColumn(
        "batch_id", F.lit(1).cast("bigint")
    )
    ParquetTable(
        spark, str(tmp_path / "adv"), ["doc_id", "batch_id"]
    ).insert_if_absent(adv, order_by=["advisory_matched_store_doc"])
    ParquetTable(spark, str(tmp_path / "accepted"), "doc_id").insert_if_absent(
        batch2.where(F.col("doc_id") != 1), order_by=["text"]
    )

    acc = ParquetTable(spark, str(tmp_path / "accepted"), "doc_id")
    report = reconcile_advisories(
        spark,
        str(tmp_path / "adv"),
        str(tmp_path / "accepted"),
        jaccard_threshold=0.99,  # above the true Jaccard of the pair
        quarantine=True,
    )
    rows = {r.doc_id: r for r in report.collect()}
    assert set(rows) == {80}
    assert rows[80].jaccard is not None and rows[80].jaccard < 0.99
    assert not rows[80].verified
    # nothing quarantined
    assert {r.doc_id for r in acc.read_current().collect()} == {1, 80}


def test_reconcile_advisories_missing_table_and_missing_text(spark, tmp_path):
    """No advisory table -> empty typed report. A flag whose matched doc's
    text is gone (physically compacted) -> jaccard NULL, verified false,
    row retained for audit."""
    from airflow_dags_spark.operators.ingest import reconcile_advisories

    empty = reconcile_advisories(
        spark, str(tmp_path / "no_adv"), str(tmp_path / "no_acc")
    )
    assert empty.count() == 0
    assert "verified" in empty.columns

    acc = ParquetTable(spark, str(tmp_path / "accepted"), "doc_id")
    acc.insert_if_absent(_docs(spark, [(30, _BASE + " at dawn")]), order_by=["text"])
    adv = spark.createDataFrame(
        [(30, 10, 4, 1)],
        "doc_id bigint, advisory_matched_store_doc bigint, "
        "n_matching_bands bigint, batch_id bigint",
    )
    adv.write.parquet(str(tmp_path / "adv"))
    report = reconcile_advisories(
        spark, str(tmp_path / "adv"), str(tmp_path / "accepted"), quarantine=True
    )
    rows = report.collect()
    assert len(rows) == 1
    assert rows[0].jaccard is None and not rows[0].verified
    assert {r.doc_id for r in acc.read_current().collect()} == {30}


def test_cli_reconcile_advisories(spark, tmp_path, monkeypatch, capsys):
    """spark-submit surface for the quarantine loop: flags -> confirmed
    counts printed, --quarantine applies the deletion vector."""
    from airflow_dags_spark.jobs.cli import main as cli_main
    from airflow_dags_spark.operators.ingest import MinhashSignatureStore

    monkeypatch.setattr("pyspark.sql.SparkSession.stop", lambda self: None)
    monkeypatch.setattr(
        "airflow_dags_spark.session.get_spark", lambda **kw: spark
    )
    store = MinhashSignatureStore(spark, str(tmp_path / "sig"))
    batch1 = _docs(spark, [(10, _BASE)])
    store.ingest(batch1, "text")
    acc = ParquetTable(spark, str(tmp_path / "accepted"), "doc_id")
    acc.insert_if_absent(batch1, order_by=["text"])
    batch2 = _docs(
        spark,
        [(10, _BASE + " under a pale evening sky"), (30, _BASE + " at dawn")],
    )
    _, nb = store.screen(batch2, "text")
    adv = store.advisory_redelivery(nb).withColumn(
        "batch_id", F.lit(1).cast("bigint")
    )
    ParquetTable(
        spark, str(tmp_path / "adv"), ["doc_id", "batch_id"]
    ).insert_if_absent(adv, order_by=["advisory_matched_store_doc"])
    acc.insert_if_absent(
        batch2.where(F.col("doc_id") == 30), order_by=["text"]
    )

    cli_main(
        [
            "reconcile-advisories",
            str(tmp_path / "adv"),
            str(tmp_path / "accepted"),
            "--jaccard-threshold", "0.5",
            "--quarantine",
            "--verified-path", str(tmp_path / "verified"),
        ]
    )
    printed = capsys.readouterr().out
    assert "flags=1 confirmed=1 quarantined=1" in printed
    assert {r.doc_id for r in acc.read_current().collect()} == {10}
    assert spark.read.parquet(str(tmp_path / "verified")).count() == 1
