"""Round-13 operators: sequence packing (operators/packing.py) against a
brute-force reference, and deterministic mixture sampling
(functions/sampling.py:mixture_sample) invariants."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from airflow_dags_spark.functions.sampling import mixture_sample
from airflow_dags_spark.functions.text import token_count
from airflow_dags_spark.operators.packing import (
    spans_from_counts,
    token_window_spans,
)

# ---------------------------------------------------------------------------
# packing
# ---------------------------------------------------------------------------


def _ref_pack(counts, window):
    """Brute-force sequential reference: concatenate in key order, slice."""
    out = []
    pos = 0
    for k, n in sorted(counts):
        if n <= 0:
            continue
        start, end = pos, pos + n
        pos = end
        for w in range(start // window, (end - 1) // window + 1):
            out.append(
                (
                    k,
                    w,
                    start,
                    end,
                    min(end, (w + 1) * window) - max(start, w * window),
                )
            )
    return sorted(out)


def _spark_pack(spark, counts, window, bucket_width):
    df = spark.createDataFrame(counts, "key bigint, n bigint")
    got = spans_from_counts(df, "key", "n", window, bucket_width).collect()
    return sorted(
        (r.key, r.window_id, r.start, r.end, r.n_tokens_in_window)
        for r in got
    )


def test_spans_match_reference_multi_bucket(spark):
    counts = [(i, (i * 7) % 23 + 1) for i in range(0, 200, 3)]
    assert _spark_pack(spark, counts, 64, 16) == _ref_pack(counts, 64)


def test_spans_bucket_width_invariance(spark):
    """The two-phase distributed scan is a pure implementation choice:
    per-key buckets, mid-size buckets, and one global bucket all produce
    the identical stream layout."""
    counts = [(i, (i * 13) % 40) for i in range(120)]  # includes zeros
    ref = _ref_pack(counts, 32)
    for width in (1, 16, 10**9):
        assert _spark_pack(spark, counts, 32, width) == ref


def test_interior_windows_exactly_full_and_conserving(spark):
    """Packing invariants on real documents: every window except the last
    holds exactly `window` tokens, and token mass is conserved."""
    docs = [(i, " ".join(f"w{j}" for j in range((i * 11) % 90 + 1))) for i in range(60)]
    df = spark.createDataFrame(docs, "doc_id bigint, text string")
    spans = token_window_spans(df, "text", "doc_id", 128, key_bucket_width=8)
    per_win = (
        spans.groupBy("window_id")
        .agg(F.sum("n_tokens_in_window").alias("n"))
        .collect()
    )
    total = df.select(F.sum(token_count("text"))).first()[0]
    assert sum(r.n for r in per_win) == total
    last = max(r.window_id for r in per_win)
    for r in per_win:
        if r.window_id != last:
            assert r.n == 128
        else:
            assert 1 <= r.n <= 128


def test_zero_count_rows_occupy_no_stream_positions(spark):
    counts = [(1, 5), (2, 0), (3, 5)]
    got = _spark_pack(spark, counts, 4, 10)
    assert got == _ref_pack(counts, 4)
    assert all(k != 2 for k, *_ in got)


def test_packing_arg_guards(spark):
    df = spark.createDataFrame([(1, 5)], "key bigint, n bigint")
    with pytest.raises(ValueError, match="window_tokens"):
        spans_from_counts(df, "key", "n", 0)
    with pytest.raises(ValueError, match="key_bucket_width"):
        spans_from_counts(df, "key", "n", 8, 0)


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    data=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3000),
            st.integers(min_value=0, max_value=37),
        ),
        min_size=0,
        max_size=40,
        unique_by=lambda t: t[0],
    ),
    window=st.sampled_from([1, 7, 64]),
    width=st.sampled_from([1, 13, 10**6]),
)
def test_spans_property_vs_reference(spark, data, window, width):
    assert _spark_pack(spark, data, window, width) == _ref_pack(data, window)


# ---------------------------------------------------------------------------
# mixture sampling
# ---------------------------------------------------------------------------


def _corpus(spark, sizes: dict[str, int]):
    rows, i = [], 0
    for src, n in sizes.items():
        for _ in range(n):
            rows.append((i, src))
            i += 1
    return spark.createDataFrame(rows, "doc_id bigint, source string")


def test_mixture_deterministic_and_subset(spark):
    d = _corpus(spark, {"web": 400, "books": 60, "code": 150})
    a = sorted(r.doc_id for r in mixture_sample(d, "source", "doc_id").collect())
    b = sorted(r.doc_id for r in mixture_sample(d, "source", "doc_id").collect())
    assert a == b
    assert set(a) <= set(r.doc_id for r in d.collect())


def test_mixture_min_group_kept_whole_others_near_target(spark):
    d = _corpus(spark, {"web": 600, "books": 80, "code": 200})
    got = mixture_sample(d, "source", "doc_id")
    per = {
        r.source: r.n
        for r in got.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    assert per["books"] == 80  # rate exactly 1.0 — whole group survives
    # binomial around 80: allow ±4 sigma (sigma <= sqrt(80) ~ 9)
    for src in ("web", "code"):
        assert abs(per.get(src, 0) - 80) <= 36


def test_mixture_explicit_target_monotone(spark):
    """Raising the target only ADDS members (the hash threshold grows):
    the sample at a smaller target is a subset of the larger one, so a
    re-balance never reshuffles survivors."""
    d = _corpus(spark, {"web": 500})
    small = {
        r.doc_id
        for r in mixture_sample(d, "source", "doc_id", target_per_group=50).collect()
    }
    big = {
        r.doc_id
        for r in mixture_sample(d, "source", "doc_id", target_per_group=200).collect()
    }
    assert small <= big
    assert len(small) < len(big)


def test_mixture_target_zero_and_guard(spark):
    d = _corpus(spark, {"web": 50})
    assert mixture_sample(d, "source", "doc_id", target_per_group=0).count() == 0
    with pytest.raises(ValueError, match="target_per_group"):
        mixture_sample(d, "source", "doc_id", target_per_group=-1)


# ---------------------------------------------------------------------------
# TokenStreamStore — incremental packing
# ---------------------------------------------------------------------------


def _counts(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, n bigint")


def test_token_stream_store_resumes_and_replays(spark, tmp_path):
    from airflow_dags_spark.operators.packing import (
        TokenStreamStore,
        token_stream_offsets,
    )

    c0 = _counts(spark, [(1, 10), (2, 5), (3, 7)])
    c1 = _counts(spark, [(10, 4), (11, 6)])
    store = TokenStreamStore(spark, str(tmp_path / "ts"))
    assert store.next_offset() == 0
    out0 = store.append_batch(c0, "n", "b0")
    assert out0 == {"applied": True, "version": 0, "next_offset": 22}
    out1 = store.append_batch(c1, "n", "b1")
    assert out1["next_offset"] == 32
    # replay is a ledger no-op: nothing moves
    assert store.append_batch(c0, "n", "b0")["applied"] is False
    assert store.next_offset() == 32

    # incremental result == one-shot packing of the union in batch order
    got = sorted(
        (r.doc_id, r.start, r.end) for r in store.assignments().collect()
    )
    union = c0.withColumn("b", F.lit(0)).union(c1.withColumn("b", F.lit(1)))
    # one-shot reference: re-key by (batch, key) order via a composite key
    ref = sorted(
        (r.doc_id % 100, r.start, r.end)
        for r in token_stream_offsets(
            union.select((F.col("b") * 100 + F.col("doc_id")).alias("doc_id"), "n"),
            "doc_id",
            "n",
        ).collect()
    )
    ref = sorted((k if k < 100 else k, s, e) for k, s, e in ref)
    assert [(s, e) for _, s, e in got] == [(s, e) for _, s, e in ref]


def test_token_stream_store_empty_batch_commits_without_moving(spark, tmp_path):
    from airflow_dags_spark.operators.packing import TokenStreamStore

    store = TokenStreamStore(spark, str(tmp_path / "ts"))
    store.append_batch(_counts(spark, [(1, 8)]), "n", "b0")
    out = store.append_batch(_counts(spark, []), "n", "b1")
    assert out["applied"] is True and out["next_offset"] == 8
    assert store.next_offset() == 8


def test_pack_stream_sink_streaming_resume(spark, tmp_path):
    """Streaming end-to-end: two file-landing micro-batch runs extend the
    stream; a no-new-files re-run advances nothing."""
    from airflow_dags_spark.operators.packing import TokenStreamStore
    from airflow_dags_spark.streaming.pipeline import pack_stream_sink

    landing = tmp_path / "docs_landing"
    landing.mkdir()
    docs1 = [(i, " ".join(["tok"] * 10)) for i in range(5)]
    docs2 = [(i, " ".join(["tok"] * 4)) for i in range(10, 14)]
    spark.createDataFrame(docs1, "doc_id bigint, text string").write.parquet(
        str(landing / "b1")
    )
    store_path = str(tmp_path / "ts")

    def run():
        q = pack_stream_sink(
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", "1000")
            .parquet(str(landing / "*")),
            store_path,
            str(tmp_path / "ck"),
        )
        q.awaitTermination(120)

    run()
    store = TokenStreamStore(spark, store_path)
    assert store.next_offset() == 50
    spark.createDataFrame(docs2, "doc_id bigint, text string").write.parquet(
        str(landing / "b2")
    )
    run()
    assert store.next_offset() == 66
    run()  # no new files: nothing applied
    assert store.next_offset() == 66
    spans = sorted((r.doc_id, r.start, r.end) for r in store.assignments().collect())
    assert spans[0] == (0, 0, 10) and spans[-1] == (13, 62, 66)


# ---------------------------------------------------------------------------
# BPE pair counts
# ---------------------------------------------------------------------------


def test_bpe_pair_counts_vs_reference(spark):
    from collections import Counter

    from airflow_dags_spark.functions.text import bpe_pair_counts

    rows = [(1, "low lower lowest a I"), (2, "low low news newer")]
    d = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {(r.pair, r.n) for r in bpe_pair_counts(d, "text").collect()}

    ref = Counter()
    words = Counter(
        w for _, t in rows for w in t.lower().strip().split()
    )
    for w, f in words.items():
        for i in range(len(w) - 1):
            ref[w[i : i + 2]] += f
    assert got == set(ref.items())
    # single-char words ('a', 'i') contribute no pairs
    assert all(len(p) == 2 for p, _ in got)


# ---------------------------------------------------------------------------
# packed shard export
# ---------------------------------------------------------------------------


def test_write_packed_shards_self_contained(spark, tmp_path):
    """Every shard contains EVERY doc overlapping its token range
    (straddlers duplicated), rows sort by stream offset within a shard,
    and the stats are read back from the files."""
    from airflow_dags_spark.operators.export import write_packed_shards
    from airflow_dags_spark.operators.packing import token_stream_offsets

    counts = spark.createDataFrame(
        [(i, 7) for i in range(40)], "doc_id bigint, n bigint"
    )
    offs = token_stream_offsets(counts, "doc_id", "n").select(
        "doc_id",
        F.col("start").alias("token_start"),
        F.col("end").alias("token_end"),
    )
    out = str(tmp_path / "packed")
    # window 16 tokens, 4 windows/shard -> 64-token shards over 280 tokens
    stats = write_packed_shards(offs, out, 16, 4)
    assert stats["n_shards"] == 5 and stats["n_docs"] == 40
    assert stats["rows"] == 40 + stats["n_straddlers"]
    back = spark.read.parquet(out).collect()
    by_shard: dict[int, list] = {}
    for r in back:
        by_shard.setdefault(r.shard, []).append(r)
    ref = {r.doc_id: (r.token_start, r.token_end) for r in offs.collect()}
    for shard, rows in by_shard.items():
        lo, hi = shard * 64, (shard + 1) * 64
        got_docs = {r.doc_id for r in rows}
        want = {k for k, (s, e) in ref.items() if s < hi and e > lo}
        assert got_docs == want, f"shard {shard}"
    # 280/64 boundaries at 64,128,192,256 — each crossed by one 7-token doc
    assert stats["n_straddlers"] == 4


def test_write_packed_shards_arg_guard(spark, tmp_path):
    from airflow_dags_spark.operators.export import write_packed_shards

    df = spark.createDataFrame(
        [(1, 0, 5)], "doc_id bigint, token_start bigint, token_end bigint"
    )
    with pytest.raises(ValueError, match="windows_per_shard"):
        write_packed_shards(df, str(tmp_path / "x"), 16, 0)


# ---------------------------------------------------------------------------
# round-13 review-fix regressions
# ---------------------------------------------------------------------------


def test_mixture_null_group_is_sampled_not_dropped(spark):
    """A NULL group is a group like any other: the join must be
    null-safe, otherwise every null-group row silently vanishes."""
    rows = [(i, "web") for i in range(200)] + [(1000 + i, None) for i in range(40)]
    d = spark.createDataFrame(rows, "doc_id bigint, source string")
    got = mixture_sample(d, "source", "doc_id")
    per = {
        r.source: r.n
        for r in got.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    # NULL is the smallest group -> rate 1.0, kept whole
    assert per[None] == 40
    assert abs(per.get("web", 0) - 40) <= 28


def test_packed_shards_exclude_null_and_zero_spans(spark, tmp_path):
    """Zero-length spans must not descend into two shards and NULL
    offsets must not vanish silently — both are excluded up front."""
    from airflow_dags_spark.operators.export import write_packed_shards

    df = spark.createDataFrame(
        [(1, 0, 64), (2, 64, 64), (3, None, None), (4, 64, 128)],
        "doc_id bigint, token_start bigint, token_end bigint",
    )
    stats = write_packed_shards(df, str(tmp_path / "p"), 16, 4)
    back = spark.read.parquet(str(tmp_path / "p"))
    assert sorted(r.doc_id for r in back.collect()) == [1, 4]
    assert stats["n_docs"] == 2 and stats["n_straddlers"] == 0


def test_token_stream_store_duplicate_keys_deterministic(spark, tmp_path):
    """Duplicate keys in one batch (at-least-once double delivery)
    collapse to one deterministic span per key."""
    from airflow_dags_spark.operators.packing import TokenStreamStore

    dup = spark.createDataFrame(
        [(1, 5), (1, 5), (2, 3)], "doc_id bigint, n bigint"
    )
    store = TokenStreamStore(spark, str(tmp_path / "ts"))
    out = store.append_batch(dup, "n", "b0")
    assert out["next_offset"] == 8
    got = sorted((r.doc_id, r.start, r.end) for r in store.assignments().collect())
    assert got == [(1, 0, 5), (2, 5, 8)]


def test_sink_folds_every_batch_into_manually_seeded_store(spark, tmp_path):
    """A store seeded through the MANUAL API ('__init__', 'incr-1' ledger
    keys) and then attached to a sink folds every live micro-batch: the
    sink's namespaced keys never collide with manual ones."""
    import numpy as np

    from airflow_dags_spark.operators.ann_store import IvfIndexStore
    from airflow_dags_spark.streaming.pipeline import ivf_index_sink

    rng = np.random.default_rng(7)
    vecs = spark.createDataFrame(
        [(i, rng.normal(size=4).tolist(), 0) for i in range(80)],
        "vec_id long, embedding array<float>, label int",
    )
    store_path = str(tmp_path / "ivf")
    store = IvfIndexStore(spark, store_path)
    store.init_from(vecs.where(F.col("vec_id") < 30), n_cells=2, fit_sample=30)
    store.add_batch(vecs.where((F.col("vec_id") >= 30) & (F.col("vec_id") < 40)),
                    "incr-1")
    assert sum(r["n_members"] for r in store.state().collect()) == 40

    landing = tmp_path / "landing"
    landing.mkdir()
    # two files -> two micro-batches (ids 0 and 1)
    vecs.where((F.col("vec_id") >= 40) & (F.col("vec_id") < 60)).write.parquet(
        str(landing / "f1")
    )
    vecs.where(F.col("vec_id") >= 60).write.parquet(str(landing / "f2"))
    q = ivf_index_sink(
        spark.readStream.schema("vec_id long, embedding array<float>, label int")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(landing / "*")),
        store_path,
        str(tmp_path / "ck"),
        n_cells=2,
        fit_sample=30,
    )
    q.awaitTermination(120)
    assert sum(r["n_members"] for r in store.state().collect()) == 80
