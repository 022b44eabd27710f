"""CLI entry-point smoke (offline subcommands) and the composed streaming
ingest path: headerless CSV landing stream → clean pipeline → foreachBatch
MERGE — the streaming form of the monthly price-paid job (S2+P*+K3/T2/T3)."""

from __future__ import annotations

from airflow_dags_spark.functions.cleaning import clean_price_paid
from airflow_dags_spark.jobs.cli import main as cli_main
from airflow_dags_spark.operators.upsert import ParquetTable
from airflow_dags_spark.schemas import PRICE_PAID_RAW_SCHEMA
from airflow_dags_spark.sources.csv import read_headerless_csv_stream
from airflow_dags_spark.streaming.pipeline import merge_sink

from tests.test_jobs import DUP_TX1_CHANGED, GOOD, GOOD2, NEW_TX7, write_csv


def test_cli_initial_load_and_monthly_update(spark, tmp_path, monkeypatch):
    """Drive the same code path spark-submit would (get_spark reuses the
    active test session via getOrCreate; stop() is a no-op for reuse)."""
    monkeypatch.setattr("pyspark.sql.SparkSession.stop", lambda self: None)
    bulk = write_csv(tmp_path, "bulk.csv", [GOOD, GOOD2])
    monthly = write_csv(tmp_path, "monthly.csv", [DUP_TX1_CHANGED, NEW_TX7])
    table = str(tmp_path / "price_paid")
    cli_main(["initial-load", bulk, table])
    assert spark.read.parquet(table).count() == 2
    cli_main(["monthly-update", monthly, table])
    rows = {
        r["transaction_unique_identifier"]: r["price"]
        for r in spark.read.parquet(table).collect()
    }
    assert rows == {"TX1": 250000.0, "TX2": 99000.0, "TX7": 310000.0}


def test_cli_json_to_csv(spark, tmp_path, monkeypatch):
    monkeypatch.setattr("pyspark.sql.SparkSession.stop", lambda self: None)
    src = tmp_path / "in.jsonl"
    src.write_text('{"a": 1, "b": {"c": 2}}\n')
    out = str(tmp_path / "out")
    cli_main(["json-to-csv", str(src), out])
    back = spark.read.option("header", "true").csv(out)
    assert back.count() == 1
    assert set(back.columns) == {"a", "b.c"}


def test_streaming_price_paid_ingest(spark, tmp_path):
    """Landing-zone CSV stream → clean_price_paid → merge_sink: two file
    drops, second contains a re-delivery that must stay a no-op on the
    changed payload (the reference's monthly semantics, continuously)."""
    landing = tmp_path / "landing"
    landing.mkdir()
    write_csv(landing, "drop1.csv", [GOOD, GOOD2])
    table = ParquetTable(
        spark, str(tmp_path / "price_paid"), "transaction_unique_identifier"
    )

    def run(ckpt):
        stream = read_headerless_csv_stream(
            spark, str(landing), PRICE_PAID_RAW_SCHEMA, max_files_per_trigger=1
        )
        q = merge_sink(
            clean_price_paid(stream),
            table,
            order_by=["transaction_unique_identifier"],
            checkpoint_dir=str(tmp_path / ckpt),
            # K3 semantics in streaming form: never touch matched rows
            update_cols=[],
        )
        q.awaitTermination(120)

    run("ckpt")
    assert table.read().count() == 2
    # second drop: TX1 re-delivered with changed price + new TX7
    write_csv(landing, "drop2.csv", [DUP_TX1_CHANGED, NEW_TX7])
    run("ckpt")  # same checkpoint: only the new file is processed
    rows = {
        r["transaction_unique_identifier"]: r["price"]
        for r in table.read().collect()
    }
    assert rows == {"TX1": 250000.0, "TX2": 99000.0, "TX7": 310000.0}


def test_cli_compact_and_zorder(spark, tmp_path, monkeypatch):
    from pyspark.sql import functions as F

    monkeypatch.setattr("pyspark.sql.SparkSession.stop", lambda self: None)
    table = str(tmp_path / "t")
    spark.range(2000).select(
        F.col("id").alias("x"), (F.col("id") * 7 % 1000).alias("y")
    ).repartition(20).write.parquet(table)
    before = spark.read.parquet(table).agg(F.sum("x"), F.sum("y")).first()

    cli_main(["compact", table, "--target-file-mb", "1024"])
    after = spark.read.parquet(table).agg(F.sum("x"), F.sum("y")).first()
    assert tuple(after) == tuple(before)

    cli_main(["zorder", table, "x,y", "--n-files", "4"])
    z = spark.read.parquet(table)
    assert tuple(z.agg(F.sum("x"), F.sum("y")).first()) == tuple(before)


def test_cli_pack_sequences(spark, tmp_path, monkeypatch):
    monkeypatch.setattr("pyspark.sql.SparkSession.stop", lambda self: None)
    docs = str(tmp_path / "docs")
    (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")
        .write.parquet(docs)
    )
    out = str(tmp_path / "packed")
    cli_main(["pack-sequences", docs, out, "--budget", "256", "--n-shards", "4"])
    back = spark.read.parquet(out)
    n_docs = spark.read.parquet(docs).count()
    assert back.count() == n_docs  # every doc packed exactly once
    assert set(back.columns) == {"seq_id", "doc_id", "n_tokens", "shard"}
    # budget respected per (shard, seq) unless a single doc overflows
    from pyspark.sql import functions as F

    viol = (
        back.groupBy("shard", "seq_id")
        .agg(F.sum("n_tokens").alias("t"), F.count("*").alias("n"))
        .where((F.col("t") > 256) & (F.col("n") > 1))
        .count()
    )
    assert viol == 0


def test_cli_curate_export(spark, tmp_path, monkeypatch):
    monkeypatch.setattr("pyspark.sql.SparkSession.stop", lambda self: None)
    docs = str(tmp_path / "docs")
    (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .write.parquet(docs)
    )
    out = str(tmp_path / "curated")
    cli_main(["curate-export", docs, out, "--min-tokens", "24", "--n-shards", "4"])
    back = spark.read.parquet(out)
    assert back.count() > 0
    # curated output keeps full rows + provenance columns
    assert {"doc_id", "text", "content_hash", "shard"} <= set(back.columns)
    # dedup held: content hashes are unique
    assert back.count() == back.select("content_hash").distinct().count()
    # idempotent: re-run rebuilds identical membership
    from pyspark.sql import functions as F

    first = {(r.doc_id, r.shard) for r in back.select("doc_id", "shard").collect()}
    cli_main(["curate-export", docs, out, "--min-tokens", "24", "--n-shards", "4"])
    again = {
        (r.doc_id, r.shard)
        for r in spark.read.parquet(out).select("doc_id", "shard").collect()
    }
    assert first == again


def test_cli_wds_export_and_semantic_dedup_and_vacuum(spark, tmp_path, monkeypatch, capsys):
    import os
    import tarfile

    monkeypatch.setattr("pyspark.sql.SparkSession.stop", lambda self: None)

    # wds-export
    docs = str(tmp_path / "docs")
    spark.createDataFrame(
        [(1, "aa", "s1", "en"), (2, "bb", "s2", "en")],
        "doc_id bigint, text string, source string, lang string",
    ).write.parquet(docs)
    out = str(tmp_path / "wds")
    cli_main(["wds-export", docs, out, "--n-shards", "1"])
    tars = [f for f in os.listdir(out) if f.endswith(".tar")]
    assert len(tars) == 1
    with tarfile.open(os.path.join(out, tars[0])) as tar:
        assert sorted(tar.getnames()) == ["1.json", "1.txt", "2.json", "2.txt"]

    # semantic-dedup
    emb = str(tmp_path / "emb")
    spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [1.0, 0.0]), (3, [0.0, 1.0])],
        "vec_id bigint, embedding array<double>",
    ).write.parquet(emb)
    marked_out = str(tmp_path / "marked")
    cli_main(["semantic-dedup", emb, marked_out, "--threshold", "0.99"])
    kept = {
        r["vec_id"]
        for r in spark.read.parquet(marked_out).where("kept").collect()
    }
    assert kept == {1, 3}

    # vacuum
    table = str(tmp_path / "t")
    spark.createDataFrame([(1,)], "id bigint").write.parquet(table)
    os.makedirs(table + ".stage-dead")
    cli_main(["vacuum", table])
    assert not os.path.exists(table + ".stage-dead")


def test_cli_dq_audit_and_point_lookup(spark, tmp_path, monkeypatch, capsys):
    import pytest as _pytest

    monkeypatch.setattr("pyspark.sql.SparkSession.stop", lambda self: None)
    monkeypatch.setattr(
        "airflow_dags_spark.session.get_spark", lambda **kw: spark
    )
    p = str(tmp_path / "t")
    spark.createDataFrame(
        [(1, "a"), (2, "b"), (2, None)], "id bigint, v string"
    ).write.parquet(p)

    # dq-audit: uniqueness + completeness violated → exit 2, report printed
    with _pytest.raises(SystemExit) as ex:
        cli_main(["dq-audit", p, "--complete", "v", "--unique", "id"])
    assert ex.value.code == 2
    out = capsys.readouterr().out
    assert "FAIL" in out and "complete(v)" in out

    clean = str(tmp_path / "c")
    spark.createDataFrame([(1, "a"), (2, "b")], "id bigint, v string").write.parquet(clean)
    cli_main(["dq-audit", clean, "--complete", "id,v", "--unique", "id"])
    assert "FAIL" not in capsys.readouterr().out

    cli_main(["point-lookup", clean, "id", "2"])
    assert "b" in capsys.readouterr().out

    # a partitioned table: the partition column is in the output
    part = str(tmp_path / "part")
    spark.createDataFrame(
        [(1, "a", "x"), (2, "b", "y"), (3, "c", "y")], "id bigint, v string, area string"
    ).write.partitionBy("area").parquet(part)
    cli_main(["point-lookup", part, "id", "2"])
    assert capsys.readouterr().out.strip() == "Row(id=2, v='b', area='y')"
