"""End-to-end curation pipeline (jobs/curate_full.py): the COMPOSITION of
individually-verified operators — funnel accounting, stage semantics on
crafted duplicates, shard export round trip."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from airflow_dags_spark.jobs.curate_full import curate_full
from airflow_dags_spark.sources.tables import read_table

SF_DIR = "/root/testdata/sf0.001"


def test_full_funnel_on_real_tables(spark, tmp_path):
    docs = read_table(spark, SF_DIR, "documents")
    emb = read_table(spark, SF_DIR, "embeddings").withColumnRenamed(
        "vec_id", "vec_id"
    )
    out = curate_full(
        spark,
        docs,
        embeddings=emb,
        out_path=str(tmp_path / "shards"),
        n_shards=4,
    )
    funnel = out["funnel"]
    stages = [s["stage"] for s in funnel]
    assert stages == ["quality_gate", "exact_dedup", "near_dedup", "semantic_dedup"]
    # funnel is consistent and monotone: each stage consumes the previous
    for prev, cur in zip(funnel, funnel[1:]):
        assert cur["rows_in"] == prev["rows_out"]
    for s in funnel:
        assert s["rows_out"] <= s["rows_in"]
        assert s["dropped"] == s["rows_in"] - s["rows_out"]
    # the language gate actually bites on this multilingual corpus
    assert funnel[0]["dropped"] > 0
    # final frame row count matches the last stage and the shard export
    n_final = out["result"].count()
    assert n_final == funnel[-1]["rows_out"] > 0
    shards = spark.read.parquet(str(tmp_path / "shards"))
    assert shards.count() == n_final


def test_pipeline_drops_crafted_duplicates(spark):
    base = (
        "the quick brown fox jumps over the lazy dog and runs far away "
        "into the deep green forest of the north and the hills beyond"
    )
    rows = [
        (1, base),
        (2, base),                     # exact duplicate → exact_dedup
        (3, base + " tonight"),        # near duplicate → near_dedup
        (4, "the completely different english document about query engines "
            "and the many ways of joining tables in the modern warehouse"),
        (5, "der und das kurze deutsche text"),  # language gate
        (6, "the tiny one"),                      # min_tokens gate
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = curate_full(spark, docs, jaccard_threshold=0.5, min_tokens=5)
    kept = sorted(r["doc_id"] for r in out["result"].collect())
    assert kept == [1, 4]  # min key of the dup chain survives
    by = {s["stage"]: s for s in out["funnel"]}
    assert by["quality_gate"]["dropped"] == 2   # de text + tiny text
    assert by["exact_dedup"]["dropped"] == 1    # doc 2
    assert by["near_dedup"]["dropped"] == 1     # doc 3


def test_cli_curate_full(spark, tmp_path, monkeypatch, capsys):
    from airflow_dags_spark.jobs.cli import main as cli_main

    monkeypatch.setattr("pyspark.sql.SparkSession.stop", lambda self: None)
    monkeypatch.setattr(
        "airflow_dags_spark.session.get_spark", lambda **kw: spark
    )
    docs = str(tmp_path / "docs")
    read_table(spark, SF_DIR, "documents").write.parquet(docs)
    out = str(tmp_path / "out")
    cli_main(["curate-full", docs, out, "--n-shards", "2"])
    printed = capsys.readouterr().out
    assert "quality_gate" in printed and "near_dedup" in printed
    assert "span_removal" not in printed  # opt-in stage stays off
    back = spark.read.parquet(out)
    assert back.count() > 0
    # idempotent: a re-run rebuilds the identical doc_id -> shard membership
    shard_of = lambda df: {  # noqa: E731
        (r.doc_id, r.shard) for r in df.select("doc_id", "shard").collect()
    }
    first = shard_of(back)
    cli_main(["curate-full", docs, out, "--n-shards", "2"])
    capsys.readouterr()
    assert shard_of(spark.read.parquet(out)) == first

    out2 = str(tmp_path / "out2")
    cli_main(["curate-full", docs, out2, "--n-shards", "2", "--remove-spans"])
    printed2 = capsys.readouterr().out
    assert "span_removal" in printed2
    assert spark.read.parquet(out2).count() > 0


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01"])
def test_registered_funnel_equals_job_funnel(spark, sf):
    """The registered ``curate_funnel_counts`` query (the one the DuckDB
    oracle checks) and the job report the same funnel on the same input,
    so the oracle certifies what the job computes."""
    from airflow_dags_spark.plans.registry import QUERIES, load_all

    load_all()
    sf_dir = f"{SF_DIR.rsplit('/', 1)[0]}/{sf}"
    cols = ("stage", "rows_in", "rows_out", "dropped")
    registered = [
        tuple(r[c] for c in cols)
        for r in QUERIES["curate_funnel_counts"](spark, sf_dir).collect()
    ]
    job = curate_full(spark, read_table(spark, sf_dir, "documents"))
    assert sorted(registered) == sorted(
        tuple(s[c] for c in cols) for s in job["funnel"]
    )
    assert len(registered) == 3


def test_funnel_is_single_pass(spark):
    """The funnel must not re-execute lineage to count it: the raw docs
    input streams through the pipeline exactly ONCE however many stages
    run (observations + carried-forward counts + the stage-2 cache do the
    accounting). Counted with an accumulator-tapped UDF on the input."""
    acc = spark.sparkContext.accumulator(0)

    def tap(s):
        acc.add(1)
        return s

    tap_udf = F.udf(tap, "string")
    rows = [
        (i, f"the quick brown fox number {i} jumps over the lazy dog and "
            f"keeps running through the english countryside for a while")
        for i in range(200)
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string").select(
        "doc_id", tap_udf("text").alias("text")
    )
    out = curate_full(spark, docs, min_tokens=5)
    assert out["funnel"][0]["rows_in"] == 200
    # one streaming of 200 input rows — not 2× per stage
    assert acc.value == 200


def test_span_removal_stage_rewrites_and_accounts(spark):
    """remove_spans=True inserts the substring tier: shared boilerplate
    inside otherwise-distinct survivors is stripped from every non-owner
    (the owner keeps one copy), a doc consisting ONLY of duplicated spans
    drops out of the funnel, and the stage row carries tokens_removed."""
    boiler = (
        "all rights reserved contact the publisher for permissions and "
        "licensing of this material in any form"
    )
    rows = [
        (1, f"{boiler} the first unique document body about broadcast joins"),
        (2, f"the second unique document body about shuffle partitions {boiler}"),
        (3, boiler),  # nothing but the boilerplate -> fully removed
        (4, "The Completely Different English Document About Query Engines"),
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = curate_full(
        spark,
        docs,
        min_tokens=5,
        jaccard_threshold=0.9,
        remove_spans=True,
        span_min_run=1,
    )
    by = {s["stage"]: s for s in out["funnel"]}
    stages = [s["stage"] for s in out["funnel"]]
    assert stages == ["quality_gate", "exact_dedup", "near_dedup", "span_removal"]
    span = by["span_removal"]
    # 16 boilerplate tokens removed from doc 2 AND all 16 of fully-removed
    # doc 3 — the total must include docs whose entire text was removed
    # (they drop out of the funnel before the inner join, so an
    # after-the-join sum would miss exactly the largest removals)
    assert span["tokens_removed"] == 32
    assert span["dropped"] == 1  # doc 3 cleaned to nothing
    # funnel chain still consistent
    for prev, cur in zip(out["funnel"], out["funnel"][1:]):
        assert cur["rows_in"] == prev["rows_out"]
    got = {r.doc_id: r.text for r in out["result"].collect()}
    assert sorted(got) == [1, 2, 4]
    # doc 1 is the owner (min key): keeps the boilerplate; doc 2 lost it
    assert "all rights reserved" in got[1]
    assert "all rights reserved" not in got[2]
    assert got[2].startswith("the second unique document body")
    # the rewrite is case-preserving — an exported corpus must not come
    # back lowercased (ADVICE r9)
    assert got[4] == "The Completely Different English Document About Query Engines"


def test_span_removal_composes_with_semantic_stage(spark, tmp_path):
    docs = read_table(spark, SF_DIR, "documents")
    emb = read_table(spark, SF_DIR, "embeddings")
    out = curate_full(
        spark,
        docs,
        embeddings=emb,
        out_path=str(tmp_path / "shards"),
        n_shards=2,
        remove_spans=True,
    )
    stages = [s["stage"] for s in out["funnel"]]
    assert stages == [
        "quality_gate", "exact_dedup", "near_dedup", "span_removal",
        "semantic_dedup",
    ]
    for prev, cur in zip(out["funnel"], out["funnel"][1:]):
        assert cur["rows_in"] == prev["rows_out"]
    for s in out["funnel"]:
        assert s["dropped"] == s["rows_in"] - s["rows_out"] >= 0
    assert out["shards"]["rows"] == out["funnel"][-1]["rows_out"]


def test_balance_and_pack_stages_compose(spark):
    """Mixture balance caps the dominant source; packing annotates every
    survivor with consistent stream offsets; the funnel stays monotone
    and the packing report matches the annotated frame."""
    docs = read_table(spark, SF_DIR, "documents")
    out = curate_full(
        spark,
        docs,
        balance_by="source",
        pack_window=64,
    )
    funnel = out["funnel"]
    stages = [s["stage"] for s in funnel]
    assert stages == [
        "quality_gate", "exact_dedup", "near_dedup", "mixture_balance",
    ]
    for prev, cur in zip(funnel, funnel[1:]):
        assert cur["rows_in"] == prev["rows_out"]
    rows = out["result"].collect()
    assert len(rows) == funnel[-1]["rows_out"] > 0
    # balanced: no source exceeds the smallest post-dedup source by more
    # than binomial noise is beside the point here — the invariant that
    # must hold exactly is determinism + annotation consistency:
    spans = sorted((r.token_start, r.token_end) for r in rows)
    assert all(s < e for s, e in spans)
    # offsets tile the stream: consecutive spans abut exactly
    assert all(a[1] == b[0] for a, b in zip(spans, spans[1:]))
    assert spans[0][0] == 0
    pk = out["packing"]
    assert pk["window_tokens"] == 64
    assert pk["n_tokens"] == spans[-1][1]
    assert pk["n_windows"] == -(-pk["n_tokens"] // 64)
    for r in rows:
        assert r.first_window == r.token_start // 64
        assert r.last_window == (r.token_end - 1) // 64


def test_balance_stage_caps_groups_deterministically(spark):
    rows = [(i, "the quick brown fox jumps over the lazy dog number "
                f"{i} of the english corpus today", "web" if i < 400 else "books")
            for i in range(460)]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string, source string")
    out1 = curate_full(spark, docs, balance_by="source")
    out2 = curate_full(spark, docs, balance_by="source")
    kept1 = sorted(r.doc_id for r in out1["result"].collect())
    kept2 = sorted(r.doc_id for r in out2["result"].collect())
    assert kept1 == kept2
    per = {}
    for r in out1["result"].collect():
        per[r.source] = per.get(r.source, 0) + 1
    assert per["books"] == 60  # min group survives whole
    assert abs(per["web"] - 60) <= 32  # binomial around the target
    by = {s["stage"]: s for s in out1["funnel"]}
    assert by["mixture_balance"]["rows_in"] == 460
    assert by["mixture_balance"]["rows_out"] == len(kept1)


def test_pack_window_guard(spark):
    docs = read_table(spark, SF_DIR, "documents")
    with pytest.raises(ValueError, match="pack_window"):
        curate_full(spark, docs, pack_window=0)


def test_packed_shard_export_composes(spark, tmp_path):
    """pack_window + windows_per_shard ships self-contained token-range
    shards; the funnel's final count stays the doc count (straddler
    copies are not new docs)."""
    docs = read_table(spark, SF_DIR, "documents")
    out = curate_full(
        spark,
        docs,
        out_path=str(tmp_path / "packed"),
        pack_window=128,
        windows_per_shard=4,
    )
    stats = out["shards"]
    assert stats["n_docs"] == out["funnel"][-1]["rows_out"]
    assert stats["rows"] >= stats["n_docs"]
    back = spark.read.parquet(str(tmp_path / "packed"))
    span = 128 * 4
    bad = back.where(
        (F.col("token_start") >= (F.col("shard") + 1) * span)
        | (F.col("token_end") <= F.col("shard") * span)
    ).count()
    assert bad == 0  # every row overlaps its shard's token range
    with pytest.raises(ValueError, match="requires pack_window"):
        curate_full(spark, docs, out_path=str(tmp_path / "x"),
                    windows_per_shard=4)
