"""Deletion vectors (ParquetTable.logical_delete family) and the per-file
Bloom index for point-lookup file pruning (operators/skipping.py)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from airflow_dags_spark.operators.skipping import (
    collect_file_blooms,
    collect_file_stats,
    point_lookup,
    prune_files_bloom,
    read_with_skipping,
)
from airflow_dags_spark.operators.upsert import ParquetTable
from airflow_dags_spark.plans import registry
from airflow_dags_spark.sources.tables import read_parquet


# --- deletion vectors ---------------------------------------------------------


def _t(spark, tmp_path, **kw):
    t = ParquetTable(spark, str(tmp_path / "t"), "id", **kw)
    t.create_if_not_exists(
        spark.createDataFrame(
            [(i, f"v{i}", i % 3) for i in range(30)], "id bigint, v string, p int"
        )
    )
    return t


def test_logical_delete_hides_rows_without_rewriting_files(spark, tmp_path):
    t = _t(spark, tmp_path)
    files_before = sorted(os.listdir(t.path))
    n = t.logical_delete(spark.createDataFrame([(3,), (7,), (7,)], "id bigint"))
    assert n == 2  # distinct keys
    # data files untouched — the whole point
    assert sorted(os.listdir(t.path)) == files_before
    assert t.read().count() == 30  # physical
    cur = {r["id"] for r in t.read_current().collect()}
    assert cur == set(range(30)) - {3, 7}


def test_logical_delete_accumulates_and_compacts(spark, tmp_path):
    t = _t(spark, tmp_path)
    t.logical_delete(spark.createDataFrame([(1,)], "id bigint"))
    t.logical_delete(spark.createDataFrame([(2,), (1,)], "id bigint"))
    assert {r["id"] for r in t.read_current().collect()} == set(range(30)) - {1, 2}
    applied = t.compact_dv()
    assert applied == 2
    # physically gone, sidecar cleared, reads agree
    assert t.read().count() == 28
    assert t.read_current().count() == 28
    assert not os.path.exists(t.path + ".dv")
    assert t.compact_dv() == 0  # idempotent


def test_restore_keys_undeletes(spark, tmp_path):
    t = _t(spark, tmp_path)
    t.logical_delete(spark.createDataFrame([(5,), (6,)], "id bigint"))
    t.restore_keys(spark.createDataFrame([(5,)], "id bigint"))
    cur = {r["id"] for r in t.read_current().collect()}
    assert 5 in cur and 6 not in cur


def test_logical_delete_case_insensitive_normalizes(spark, tmp_path):
    t = ParquetTable(spark, str(tmp_path / "ci"), "id", case_insensitive=True)
    t.create_if_not_exists(
        spark.createDataFrame([("Abc", 1), ("def", 2)], "id string, v int")
    )
    t.logical_delete(spark.createDataFrame([("ABC",)], "id string"))
    assert [r["id"] for r in t.read_current().collect()] == ["def"]


def test_compact_dv_partitioned_rewrites_only_touched(spark, tmp_path):
    t = ParquetTable(spark, str(tmp_path / "p"), "id", partition_by=["p"])
    t.create_if_not_exists(
        spark.createDataFrame(
            [(i, f"v{i}", i % 3) for i in range(30)], "id bigint, v string, p int"
        )
    )
    t.logical_delete(spark.createDataFrame([(0,), (3,)], "id bigint"))  # p=0 only
    untouched = str(tmp_path / "p" / "p=1")
    mtimes = {f: os.path.getmtime(os.path.join(untouched, f))
              for f in os.listdir(untouched)}
    t.compact_dv()
    assert {r["id"] for r in t.read().collect()} == set(range(30)) - {0, 3}
    after = {f: os.path.getmtime(os.path.join(untouched, f))
             for f in os.listdir(untouched)}
    assert after == mtimes  # untouched partition's files not rewritten


# --- per-file Bloom index -----------------------------------------------------


@pytest.fixture()
def sharded(spark, tmp_path):
    """10 files, ids range-clustered so point lookups are prunable."""
    p = str(tmp_path / "sharded")
    (
        spark.createDataFrame([(i, f"d{i}") for i in range(1000)], "id bigint, v string")
        .repartitionByRange(10, "id")
        .write.parquet(p)
    )
    return p


def test_bloom_index_no_false_negatives(spark, sharded):
    blooms = collect_file_blooms(spark, sharded, "id").cache()
    all_files = {r["file_path"] for r in blooms.select("file_path").distinct().collect()}
    assert len(all_files) == 10
    for probe in (0, 137, 999):
        files = prune_files_bloom(blooms, "id", probe)
        # the file that truly holds the id must survive
        truth = (
            spark.read.parquet(sharded)
            .select(F.col("_metadata.file_path").alias("fp"), "id")
            .where(F.col("id") == probe)
            .collect()
        )
        assert truth and truth[0]["fp"] in files


def test_bloom_index_prunes_most_files(spark, sharded):
    blooms = collect_file_blooms(spark, sharded, "id").cache()
    survivors = prune_files_bloom(blooms, "id", 500)
    # 16 Kbit / 100 ids per file: FP rate tiny — nearly all 10 files pruned
    assert 1 <= len(survivors) <= 3


def test_point_lookup_exact_and_bounded(spark, sharded):
    got = point_lookup(spark, sharded, "id", 777).collect()
    assert [(r["id"], r["v"]) for r in got] == [(777, "d777")]
    # absent value → empty result (schema preserved), usually zero files read
    missing = point_lookup(spark, sharded, "id", 10_000_000)
    assert missing.count() == 0
    assert missing.columns == ["id", "v"]


@pytest.fixture()
def partitioned(spark, tmp_path):
    """4 partitions of 250 ids each, 2 files per partition."""
    p = str(tmp_path / "partitioned")
    (
        spark.createDataFrame(
            [(i, f"d{i}", i // 250) for i in range(1000)], "id bigint, v string, area int"
        )
        .repartitionByRange(8, "id")
        .write.partitionBy("area")
        .parquet(p)
    )
    return p


@pytest.mark.parametrize("indexed", [False, True])
def test_point_lookup_keeps_root_schema_on_partitioned_table(spark, partitioned, indexed):
    blooms = collect_file_blooms(spark, partitioned, "id") if indexed else None
    hit = point_lookup(spark, partitioned, "id", 777, blooms=blooms)
    miss = point_lookup(spark, partitioned, "id", 10_000_000, blooms=blooms)
    assert hit.columns == miss.columns == ["id", "v", "area"]
    assert [tuple(r) for r in hit.collect()] == [(777, "d777", 3)]
    assert miss.count() == 0


def test_read_with_skipping_stats_keeps_root_schema(spark, partitioned):
    stats = collect_file_stats(spark, partitioned, ["id"])
    got = read_with_skipping(spark, partitioned, "id", 240, 260, stats=stats)
    assert got.columns == ["id", "v", "area"]
    assert sorted(tuple(r) for r in got.collect()) == [
        (i, f"d{i}", i // 250) for i in range(240, 261)
    ]


def test_unindexed_reads_run_only_the_filtered_scan(spark, partitioned, count_jobs):
    """Without an index, building the read runs no job and running it runs
    the jobs of the plain filtered scan, and nothing more."""
    scan = read_parquet(spark, partitioned).where(F.col("id") == 777)
    _, scan_jobs = count_jobs(scan.collect)
    lookup, build_jobs = count_jobs(lambda: point_lookup(spark, partitioned, "id", 777))
    assert build_jobs == 0
    assert count_jobs(lookup.collect) == (scan.collect(), scan_jobs)

    ranged = read_parquet(spark, partitioned).where(F.col("id") >= 240).where(F.col("id") <= 260)
    _, ranged_jobs = count_jobs(ranged.collect)
    skipping, build_jobs = count_jobs(
        lambda: read_with_skipping(spark, partitioned, "id", 240, 260)
    )
    assert build_jobs == 0
    assert count_jobs(skipping.collect) == (ranged.collect(), ranged_jobs)


def test_registered_bloom_lookup_opens_fewer_than_all_shards(spark, sf_dir, monkeypatch):
    """``point_lookup_bloom_index`` passes its index explicitly, so the
    lookup reads only the Bloom-surviving files of its 8 shards."""
    from airflow_dags_spark.operators import skipping

    opened = []

    def recording_lookup(*args, **kwargs):
        assert kwargs.get("blooms") is not None
        df = point_lookup(*args, **kwargs)
        opened.append(len(df.inputFiles()))
        return df

    monkeypatch.setattr(skipping, "point_lookup", recording_lookup)
    registry.load_all()
    rows = registry.QUERIES["point_lookup_bloom_index"](spark, sf_dir).collect()
    assert rows and {r["l_orderkey"] for r in rows} == {1000}
    assert len(opened) == 1 and 1 <= opened[0] < 8


# --- bloom-filtered join ------------------------------------------------------


def test_bloom_filtered_join_identical_to_plain_join(spark):
    from airflow_dags_spark.operators.bloomjoin import bloom_filtered_join

    fact = spark.createDataFrame(
        [(i % 100, float(i)) for i in range(2000)], "k bigint, v double"
    )
    dim = spark.createDataFrame([(3,), (7,), (None,)], "k bigint")
    got = sorted(map(tuple, bloom_filtered_join(fact, dim, "k").collect()))
    want = sorted(map(tuple, fact.join(dim, "k").collect()))
    assert got == want and len(got) == 40  # 2 live keys × 20 rows each


def test_bloom_filtered_join_reduces_shuffle(spark):
    """The point of the operator: the exchange must carry only
    maybe-matching fact rows, not the whole fact table."""
    from airflow_dags_spark.functions.metrics import scan_summary
    from airflow_dags_spark.operators.bloomjoin import bloom_filtered_join

    # shuffle-free fact lineage (range → project): the measured exchanges
    # are then exactly the join's own. (A .repartition here would add a
    # 20k-record exchange to BOTH sides of the comparison and, since the
    # probe is a broadcast join rather than a pushable scalar filter, it
    # cannot be pushed below that artificial shuffle.)
    fact = spark.range(0, 20_000, 1, 8).select(
        F.col("id").alias("k"), F.col("id").cast("double").alias("v")
    )
    dim = spark.createDataFrame([(i,) for i in range(50)], "k bigint").repartition(7)

    # force a shuffle join so the exchange is observable
    plain = fact.join(dim.hint("merge"), "k")
    plain.collect()
    s_plain = scan_summary(plain)

    reduced = bloom_filtered_join(fact, dim.hint("merge"), "k")
    reduced.collect()
    s_reduced = scan_summary(reduced)

    assert s_reduced["shuffle_records_written"] < s_plain["shuffle_records_written"] / 10
    assert reduced.count() == plain.count() == 50


def test_bloom_filtered_join_rejects_outer(spark):
    import pytest as _pytest

    from airflow_dags_spark.operators.bloomjoin import bloom_filtered_join

    df = spark.createDataFrame([(1,)], "k bigint")
    with _pytest.raises(ValueError, match="only inner/left_semi"):
        bloom_filtered_join(df, df, "k", how="left")


# --- incremental zone-map maintenance -----------------------------------------


def test_update_file_stats_scans_only_new_files(spark, tmp_path):
    from airflow_dags_spark.operators.skipping import (
        collect_file_stats,
        update_file_stats,
    )

    p = str(tmp_path / "t")
    spark.createDataFrame([(i,) for i in range(100)], "x bigint").coalesce(
        2
    ).write.parquet(p)
    # freeze the pre-append stats as a PERSISTED table would be (a lazily
    # cached frame over the live directory would see appended files)
    live = collect_file_stats(spark, p, ["x"])
    stats = spark.createDataFrame(live.collect(), live.schema)
    n0 = stats.count()

    # append new files; update must ADD rows for them, keep old rows as-is
    spark.createDataFrame([(i,) for i in range(100, 200)], "x bigint").coalesce(
        1
    ).write.mode("append").parquet(p)
    updated = update_file_stats(spark, p, ["x"], stats).cache()
    assert updated.count() == n0 + 1
    old_rows = sorted(map(tuple, stats.collect()))
    kept_rows = sorted(
        t for t in map(tuple, updated.collect()) if t in set(old_rows)
    )
    assert kept_rows == old_rows  # old entries untouched
    new_row = [r for r in updated.collect() if tuple(r) not in set(old_rows)]
    assert len(new_row) == 1 and new_row[0]["min_x"] == 100 and new_row[0]["max_x"] == 199

    # idempotent when nothing changed
    again = update_file_stats(spark, p, ["x"], updated)
    assert again.count() == updated.count()
