"""Self-verifying round-trips for the engine-owned MERGE library
(write → read-back → assert; idempotent re-run ⇒ identical table).
Semantics under test mirror the reference (SURVEY.md §2.2 K1–K6)."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from airflow_dags_spark.operators.upsert import ParquetTable


@pytest.fixture()
def tmp_table(tmp_path):
    return str(tmp_path / "tbl")


def rows_of(table: ParquetTable) -> set[tuple]:
    return {tuple(r) for r in table.read().collect()}


def make_df(spark, rows, cols=("k", "v", "note")):
    return spark.createDataFrame(rows, list(cols))


def test_create_if_not_exists_idempotent(spark, tmp_table):
    t = ParquetTable(spark, tmp_table, "k")
    df = make_df(spark, [(1, 10, "a")])
    assert t.create_if_not_exists(df) is True
    # second create is a no-op even with different data (K1 semantics)
    assert t.create_if_not_exists(make_df(spark, [(9, 99, "z")])) is False
    assert rows_of(t) == {(1, 10, "a")}


def test_insert_if_absent_do_nothing_on_conflict(spark, tmp_table):
    """K3: ON CONFLICT DO NOTHING (dags/monthly_price_paid_data.py:147-155)."""
    t = ParquetTable(spark, tmp_table, "k")
    t.insert_if_absent(make_df(spark, [(1, 10, "a"), (2, 20, "b")]), order_by=["k"])
    # re-delivery with CHANGED payload must not touch existing keys (T3 idempotency)
    t.insert_if_absent(make_df(spark, [(2, 999, "changed"), (3, 30, "c")]), order_by=["k"])
    assert rows_of(t) == {(1, 10, "a"), (2, 20, "b"), (3, 30, "c")}


def test_insert_if_absent_rerun_identical(spark, tmp_table):
    t = ParquetTable(spark, tmp_table, "k")
    batch = make_df(spark, [(1, 10, "a"), (2, 20, "b")])
    t.insert_if_absent(batch, order_by=["k"])
    before = rows_of(t)
    t.insert_if_absent(batch, order_by=["k"])  # idempotent re-run
    assert rows_of(t) == before


def test_insert_if_absent_dedups_source_first_wins(spark, tmp_table):
    """Duplicate keys in one batch: first by order_by wins (A1 semantics)."""
    t = ParquetTable(spark, tmp_table, "k")
    batch = make_df(
        spark, [(1, 20, "second"), (1, 10, "first"), (2, 20, "b")], ("k", "ord", "note")
    )
    t.insert_if_absent(batch, order_by=["ord"])
    assert rows_of(t) == {(1, 10, "first"), (2, 20, "b")}


def test_insert_if_absent_rejects_null_keys(spark, tmp_table):
    t = ParquetTable(spark, tmp_table, "k")
    t.insert_if_absent(
        make_df(spark, [(None, 0, "bad"), (1, 10, "a")]), order_by=["v"]
    )
    assert rows_of(t) == {(1, 10, "a")}


def test_merge_upsert_updates_only_update_cols(spark, tmp_table):
    """K4: ON CONFLICT DO UPDATE SET updated_date=... — other columns keep
    target values (dags/pull_new_sales_list.py:252-261)."""
    t = ParquetTable(spark, tmp_table, "property_id")
    t.merge_upsert(
        make_df(
            spark,
            [("p1", False, 20250101, 20250101), ("p2", True, 20250101, 20250101)],
            ("property_id", "is_processed", "created_date", "updated_date"),
        ),
        order_by=["property_id"],
    )
    t.merge_upsert(
        make_df(
            spark,
            [("p2", False, 20260813, 20260813), ("p3", False, 20260813, 20260813)],
            ("property_id", "is_processed", "created_date", "updated_date"),
        ),
        order_by=["property_id"],
        update_cols=["updated_date"],
    )
    assert rows_of(t) == {
        ("p1", False, 20250101, 20250101),
        # matched: only updated_date changed; is_processed/created_date kept
        ("p2", True, 20250101, 20260813),
        # unmatched: full insert
        ("p3", False, 20260813, 20260813),
    }


def test_merge_upsert_case_insensitive_key(spark, tmp_table):
    """K5: WHERE lower(outcode)=lower(%s) (dags/rightmove_outcodes.py:58-69)."""
    t = ParquetTable(spark, tmp_table, "outcode", case_insensitive=True)
    t.merge_upsert(
        spark.createDataFrame(
            [("ox1", None, "old"), ("OX2", None, "old2")],
            "outcode string, area_id bigint, display_name string",
        ),
        order_by=["outcode"],
    )
    t.merge_upsert(
        make_df(spark, [("OX1", 1942, "Oxford OX1")],
                ("outcode", "area_id", "display_name")),
        order_by=["outcode"],
        update_cols=["area_id", "display_name"],
    )
    got = rows_of(t)
    # target key casing preserved, payload updated through ci-match
    assert ("ox1", 1942, "Oxford OX1") in got
    assert ("OX2", None, "old2") in got
    assert len(got) == 2


def test_merge_upsert_rerun_idempotent(spark, tmp_table):
    t = ParquetTable(spark, tmp_table, "k")
    batch = make_df(spark, [(1, 10, "a"), (2, 20, "b")])
    t.merge_upsert(batch, order_by=["k"])
    before = rows_of(t)
    t.merge_upsert(batch, order_by=["k"])
    assert rows_of(t) == before


def test_advance_watermark_including_empty_result_keys(spark, tmp_table):
    """K6: watermark advances even for keys that produced zero rows so they
    aren't retried daily (dags/pull_new_sales_list.py:236-239)."""
    t = ParquetTable(spark, tmp_table, "area_id")
    t.merge_upsert(
        make_df(spark, [(1, None), (2, None), (3, 20250101)],
                ("area_id", "last_updated_sale")),
        order_by=["area_id"],
    )
    processed = spark.createDataFrame([(1,), (2,)], ["area_id"])
    t.advance_watermark(processed, "last_updated_sale", 20260813)
    assert rows_of(t) == {(1, 20260813), (2, 20260813), (3, 20250101)}


def test_append_then_read(spark, tmp_table):
    t = ParquetTable(spark, tmp_table, "k")
    t.create_if_not_exists(make_df(spark, [(1, 10, "a")]))
    t.append(make_df(spark, [(2, 20, "b")]))
    assert rows_of(t) == {(1, 10, "a"), (2, 20, "b")}


def test_partitioned_table_roundtrip(spark, tmp_table):
    """Partition layout stands in for the reference's secondary index (K7):
    predicate on the partition column prunes instead of scanning."""
    t = ParquetTable(spark, tmp_table, "k", partition_by=["bucket"])
    df = spark.range(100).select(
        F.col("id").alias("k"),
        (F.col("id") % 7).alias("v"),
        (F.col("id") % 4).cast("string").alias("bucket"),
    )
    t.merge_upsert(df, order_by=["k"])
    pruned = t.read().where(F.col("bucket") == "2")
    assert pruned.count() == 25
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(bucket" in plan or "bucket#" in plan


def test_partitioned_merge_rewrites_only_touched_partitions(spark, tmp_table):
    """Dynamic-partition merge: a batch touching one partition must leave
    the other partitions' files physically untouched (O(batch), not
    O(table)) and produce the same result a full merge would."""
    import glob
    import os

    t = ParquetTable(spark, tmp_table, "k", partition_by=["bucket"])
    t.merge_upsert(
        spark.createDataFrame(
            [(1, 10, "a"), (2, 20, "a"), (3, 30, "b"), (4, 40, "c")],
            "k int, v int, bucket string",
        ),
        order_by=["k"],
    )
    untouched_files = {
        p: os.path.getmtime(p)
        for p in glob.glob(f"{tmp_table}/bucket=b/*.parquet")
        + glob.glob(f"{tmp_table}/bucket=c/*.parquet")
    }
    assert untouched_files
    # batch: update k=1, insert k=5 — both in partition 'a' only
    t.merge_upsert(
        spark.createDataFrame(
            [(1, 99, "a"), (5, 50, "a")], "k int, v int, bucket string"
        ),
        order_by=["k"],
    )
    assert rows_of(t) == {
        (1, 99, "a"), (2, 20, "a"), (5, 50, "a"), (3, 30, "b"), (4, 40, "c"),
    }
    for p, mtime in untouched_files.items():
        assert os.path.exists(p), f"untouched partition file removed: {p}"
        assert os.path.getmtime(p) == mtime, f"untouched partition rewritten: {p}"


def test_partitioned_merge_partial_source_columns(spark, tmp_table):
    """Watermark-style partial-source merge still works on the partitioned
    path when the source carries the partition column."""
    t = ParquetTable(spark, tmp_table, "k", partition_by=["bucket"])
    t.merge_upsert(
        spark.createDataFrame(
            [(1, 10, "x", "a"), (2, 20, "y", "b")],
            "k int, v int, note string, bucket string",
        ),
        order_by=["k"],
    )
    t.merge_upsert(
        spark.createDataFrame([(1, 77, "a")], "k int, v int, bucket string"),
        order_by=["k"],
        update_cols=["v"],
    )
    assert rows_of(t) == {(1, 77, "x", "a"), (2, 20, "y", "b")}


# ---------------------------------------------------------------------------
# delete_where / delete_keys (K7)
# ---------------------------------------------------------------------------


def _mk_table(spark, tmp_path, partition_by=None):
    from airflow_dags_spark.operators.upsert import ParquetTable

    rows = [
        (1, "a", "p1"),
        (2, "b", "p1"),
        (3, "c", "p2"),
        (4, "d", "p2"),
        (5, None, "p3"),
    ]
    df = spark.createDataFrame(rows, "id bigint, v string, part string")
    t = ParquetTable(
        spark, str(tmp_path / "t"), "id", partition_by=partition_by
    )
    t.create_if_not_exists(df)
    return t


def test_delete_where_unpartitioned(spark, tmp_path):
    t = _mk_table(spark, tmp_path)
    from pyspark.sql import functions as F

    t.delete_where(F.col("id") <= 2)
    assert sorted(r["id"] for r in t.read().collect()) == [3, 4, 5]


def test_delete_where_null_predicate_keeps_row(spark, tmp_path):
    """DELETE WHERE v < 'c': NULL v evaluates to NULL → row must be KEPT."""
    t = _mk_table(spark, tmp_path)
    from pyspark.sql import functions as F

    t.delete_where(F.col("v") < "c")
    assert sorted(r["id"] for r in t.read().collect()) == [3, 4, 5]


def test_delete_where_partitioned_prunes_and_removes_empty_dirs(spark, tmp_path):
    import os

    t = _mk_table(spark, tmp_path, partition_by=["part"])
    from pyspark.sql import functions as F

    # capture p1's file listing; delete all of p3 and one row of p2
    p1_before = sorted(os.listdir(str(tmp_path / "t" / "part=p1")))
    t.delete_where(F.col("id").isin(3, 5))
    got = {(r["id"], r["part"]) for r in t.read().collect()}
    assert got == {(1, "p1"), (2, "p1"), (4, "p2")}
    # untouched partition p1: identical files (never rewritten)
    assert sorted(os.listdir(str(tmp_path / "t" / "part=p1"))) == p1_before
    # fully-deleted partition p3: directory gone
    assert not os.path.exists(str(tmp_path / "t" / "part=p3"))


def test_delete_keys_unpartitioned_and_missing_keys_noop(spark, tmp_path):
    t = _mk_table(spark, tmp_path)
    keys = spark.createDataFrame([(2,), (4,), (99,)], "id bigint")
    t.delete_keys(keys)
    assert sorted(r["id"] for r in t.read().collect()) == [1, 3, 5]
    # no matching keys → no-op
    t.delete_keys(spark.createDataFrame([(100,)], "id bigint"))
    assert sorted(r["id"] for r in t.read().collect()) == [1, 3, 5]


def test_delete_keys_partitioned_untouched_partition_not_rewritten(spark, tmp_path):
    import os

    t = _mk_table(spark, tmp_path, partition_by=["part"])
    p1_before = sorted(os.listdir(str(tmp_path / "t" / "part=p1")))
    t.delete_keys(spark.createDataFrame([(4,)], "id bigint"))
    got = {(r["id"], r["part"]) for r in t.read().collect()}
    assert got == {(1, "p1"), (2, "p1"), (3, "p2"), (5, "p3")}
    assert sorted(os.listdir(str(tmp_path / "t" / "part=p1"))) == p1_before


def test_delete_keys_case_insensitive(spark, tmp_path):
    from airflow_dags_spark.operators.upsert import ParquetTable

    df = spark.createDataFrame(
        [("AbC", 1), ("xyz", 2)], "code string, n bigint"
    )
    t = ParquetTable(spark, str(tmp_path / "ci"), "code", case_insensitive=True)
    t.create_if_not_exists(df)
    t.delete_keys(spark.createDataFrame([("aBc",)], "code string"))
    assert [r["code"] for r in t.read().collect()] == ["xyz"]


@pytest.mark.parametrize("partition_by", [["part"], ["part", "v"]], ids=["one", "two"])
def test_delete_emptying_a_partitioned_table_keeps_it_readable(spark, tmp_path, partition_by):
    """Deleting every row of a partitioned table removes every partition
    directory but one (with two partition columns, the bare ``part=``
    parents too), which keeps a schema-only file: the table reads as empty
    and takes the next merge."""
    t = ParquetTable(spark, str(tmp_path / "t"), "id", partition_by=partition_by)
    t.create_if_not_exists(
        spark.createDataFrame(
            [(1, "a", "p1"), (2, "b", "p1"), (3, "c", "p2")], "id bigint, v string, part string"
        )
    )
    t.delete_where(F.col("id") > 0)
    assert t.read().collect() == []
    assert len([d for d in os.listdir(t.path) if not d.startswith(("_", "."))]) == 1
    t.merge_upsert(
        spark.createDataFrame([(7, "g", "p9")], "id bigint, v string, part string"), ["id"]
    )
    assert {(r["id"], r["part"]) for r in t.read().collect()} == {(7, "p9")}


def test_merge_into_digit_valued_partitions_keeps_every_row(spark, tmp_path):
    """Partition values like ``202401`` are written from a string column but
    read back as int; a merge whose source keeps them as strings rewrites
    those partitions and must keep both their old and their new rows."""
    t = ParquetTable(spark, str(tmp_path / "t"), "id", partition_by=["o_month"])
    schema = "id bigint, v string, o_month string"
    t.merge_upsert(spark.createDataFrame([(1, "a", "202401"), (2, "b", "202402")], schema), ["id"])
    assert dict(t.read().dtypes)["o_month"] == "int"
    t.merge_upsert(spark.createDataFrame([(1, "A", "202401"), (3, "c", "202401")], schema), ["id"])
    got = {(r["id"], r["v"], str(r["o_month"])) for r in t.read().collect()}
    assert got == {(1, "A", "202401"), (2, "b", "202402"), (3, "c", "202401")}
    t.delete_where(F.col("id") == 3)
    got = {(r["id"], r["v"], str(r["o_month"])) for r in t.read().collect()}
    assert got == {(1, "A", "202401"), (2, "b", "202402")}


def test_merge_into_null_or_empty_partition_keeps_every_row(spark, tmp_path):
    """Spark writes a null or ``""`` partition value as
    ``__HIVE_DEFAULT_PARTITION__`` and reads it back as null: a merge into
    that partition must still rewrite it with its untouched rows, and a
    delete that empties it must remove its directory."""
    t = ParquetTable(spark, str(tmp_path / "t"), "k", partition_by=["part"])
    schema = "k int, v string, part string"
    t.merge_upsert(spark.createDataFrame([(1, "a", ""), (3, "c", ""), (2, "b", "a")], schema), ["k"])
    t.merge_upsert(spark.createDataFrame([(1, "A", "")], schema), ["k"])
    got = {(r["k"], r["v"], r["part"]) for r in t.read().collect()}
    assert got == {(1, "A", None), (3, "c", None), (2, "b", "a")}
    t.delete_keys(spark.createDataFrame([(1,), (3,)], "k int"))
    assert {(r["k"], r["part"]) for r in t.read().collect()} == {(2, "a")}


# ---------------------------------------------------------------------------
# one MERGE algebra: the registered K3/K4/K5/K7 queries run it
# ---------------------------------------------------------------------------


@pytest.mark.parametrize(
    "fn,queries",
    [
        ("rows_to_insert", ["k3_insert_if_absent"]),
        ("merged_table", ["k4_merge_upsert", "k5_case_insensitive_update"]),
        ("without_keys", ["k3_insert_if_absent", "k7_delete_keys"]),
    ],
)
def test_writeback_queries_run_the_write_library(spark, sf_dir, monkeypatch, fn, queries):
    """Each registered upsert query builds its result set with the write
    library's own function: breaking the function breaks the query, so the
    DuckDB oracle of the query checks the code the keyed writes run."""
    from airflow_dags_spark.operators import upsert
    from airflow_dags_spark.plans import writeback

    def broken(*a, **kw):
        raise RuntimeError(f"{fn} called")

    monkeypatch.setattr(upsert, fn, broken)
    for name in queries:
        with pytest.raises(RuntimeError, match=fn):
            getattr(writeback, name)(spark, sf_dir)


# ---------------------------------------------------------------------------
# Spark jobs per write verb
# ---------------------------------------------------------------------------

# Jobs each verb ran on this fixture, on both layouts, before the verbs
# shared one rewrite (measured with count_jobs, local[4], 8 shuffle
# partitions). Partitioned deletes then also re-read their stage to find
# emptied partitions (2 jobs); that set now rides on the stage write as an
# observed metric.
JOBS_BEFORE = {
    ("insert_if_absent", False): 3, ("insert_if_absent", True): 3,
    ("merge_upsert", False): 3, ("merge_upsert", True): 7,
    ("advance_watermark", False): 3, ("advance_watermark", True): 3,
    ("delete_where", False): 1, ("delete_where", True): 6,
    ("delete_keys", False): 4, ("delete_keys", True): 11,
    ("compact_dv", False): 7, ("compact_dv", True): 14,
    ("first_write", False): 2, ("first_write", True): 2,
}


def _verb_batch(spark):
    # k=1 updates partition p1, k=20 inserts into p2
    return spark.createDataFrame(
        [(1, 99, "p1", 0), (20, 200, "p2", 0)], "k int, v int, part string, wm int"
    )


_VERBS = {
    "insert_if_absent": lambda spark, t: t.insert_if_absent(_verb_batch(spark), ["k"]),
    "merge_upsert": lambda spark, t: t.merge_upsert(_verb_batch(spark), ["k"]),
    "advance_watermark": lambda spark, t: t.advance_watermark(
        spark.createDataFrame([(4,), (5,)], "k int"), "wm", 7
    ),
    "delete_where": lambda spark, t: t.delete_where(F.col("k") < 2),
    "delete_keys": lambda spark, t: t.delete_keys(spark.createDataFrame([(4,), (5,)], "k int")),
    "compact_dv": lambda spark, t: t.compact_dv(),
    "first_write": lambda spark, t: ParquetTable(
        spark, t.path + "_new", "k", partition_by=t.partition_by
    ).merge_upsert(_verb_batch(spark), ["k"]),
}


@pytest.mark.parametrize("partitioned", [False, True], ids=["flat", "partitioned"])
@pytest.mark.parametrize("verb", list(_VERBS))
def test_write_verb_runs_no_more_jobs_than_before(spark, tmp_path, count_jobs, verb, partitioned):
    t = ParquetTable(spark, str(tmp_path / "t"), "k", partition_by=["part"] if partitioned else None)
    t.create_if_not_exists(
        spark.createDataFrame(
            [(i, i * 10, f"p{i % 3}", 0) for i in range(12)], "k int, v int, part string, wm int"
        )
    )
    if verb == "compact_dv":
        t.logical_delete(spark.createDataFrame([(4,), (5,)], "k int"))
    _, n = count_jobs(lambda: _VERBS[verb](spark, t))
    assert n <= JOBS_BEFORE[(verb, partitioned)]
