"""spark-submit entry point for the job layer.

One file the orchestrator ships to the cluster:

    spark-submit .../airflow_dags_spark/jobs/cli.py monthly-update <csv> <table>
    spark-submit .../cli.py initial-load <csv> <table>
    spark-submit .../cli.py enrich-outcodes <areas_table>
    spark-submit .../cli.py pull-sales <areas_table> <sales_table>
    spark-submit .../cli.py json-to-csv <in> <out>
    spark-submit .../cli.py compact <table> [--target-file-mb 128]
    spark-submit .../cli.py zorder <table> col1,col2 [--n-files 64]
    spark-submit .../cli.py pack-sequences <docs> <out> [--budget 2048]
    spark-submit .../cli.py wds-export <docs> <out> [--n-shards 8]
    spark-submit .../cli.py semantic-dedup <embeddings> <out> [--threshold 0.95]
    spark-submit .../cli.py reconcile-advisories <advisory> <accepted>
                            [--quarantine] [--verified-path p]
    spark-submit .../cli.py vacuum <table>
    spark-submit .../cli.py curate-full <docs> <out> [--remove-spans]
                            [--balance-by col] [--pack-window n]
    spark-submit .../cli.py dq-audit <table> [--unique c1,c2]
    spark-submit .../cli.py point-lookup <table> <column> <value>

The HTTP jobs use the stdlib-based fetchers from jobs/live_http.py; tests
bypass this module and inject fixture fetchers directly (SURVEY.md §7
Phase 4).
"""

from __future__ import annotations

import argparse
import sys
from datetime import datetime, timedelta, timezone


def main(argv: list[str] | None = None) -> None:
    parser = argparse.ArgumentParser(prog="airflow_dags_spark-jobs")
    sub = parser.add_subparsers(dest="cmd", required=True)

    p = sub.add_parser("initial-load")
    p.add_argument("csv_path")
    p.add_argument("table_path")

    p = sub.add_parser("monthly-update")
    p.add_argument("csv_path")
    p.add_argument("table_path")

    p = sub.add_parser("enrich-outcodes")
    p.add_argument("areas_path")
    p.add_argument("--batch-size", type=int, default=50)

    p = sub.add_parser("pull-sales")
    p.add_argument("areas_path")
    p.add_argument("sales_path")
    p.add_argument("--batch-areas", type=int, default=5)

    p = sub.add_parser("json-to-csv")
    p.add_argument("input_path")
    p.add_argument("output_path")

    p = sub.add_parser("compact")
    p.add_argument("table_path")
    p.add_argument("--target-file-mb", type=int, default=128)

    p = sub.add_parser("zorder")
    p.add_argument("table_path")
    p.add_argument("columns", help="comma-separated cluster columns")
    p.add_argument("--n-files", type=int, default=64)

    p = sub.add_parser("pack-sequences")
    p.add_argument("docs_path", help="parquet with key + text columns")
    p.add_argument("output_path")
    p.add_argument("--key-col", default="doc_id")
    p.add_argument("--text-col", default="text")
    p.add_argument("--budget", type=int, default=2048)
    p.add_argument("--n-shards", type=int, default=16)

    p = sub.add_parser("wds-export")
    p.add_argument("docs_path", help="parquet with key/text/meta columns")
    p.add_argument("output_path")
    p.add_argument("--key-col", default="doc_id")
    p.add_argument("--text-col", default="text")
    p.add_argument("--meta-cols", default="source,lang")
    p.add_argument("--n-shards", type=int, default=8)

    p = sub.add_parser("semantic-dedup")
    p.add_argument("embeddings_path", help="parquet with key + vector columns")
    p.add_argument("output_path", help="where the kept-flag table is written")
    p.add_argument("--key-col", default="vec_id")
    p.add_argument("--vec-col", default="embedding")
    p.add_argument("--threshold", type=float, default=0.95)
    p.add_argument("--target-cluster-size", type=int, default=1000)

    p = sub.add_parser("vacuum")
    p.add_argument("table_path")
    p.add_argument("--key", default="id")

    p = sub.add_parser("reconcile-advisories")
    p.add_argument("advisory_path", help="flags written by screened_ingest_sink(advisory_path=...)")
    p.add_argument("accepted_path", help="the accepted-docs table the flags refer to")
    p.add_argument("--key-col", default="doc_id")
    p.add_argument("--text-col", default="text")
    p.add_argument("--jaccard-threshold", type=float, default=0.8)
    p.add_argument(
        "--quarantine",
        action="store_true",
        help="logical-delete confirmed near-dups from the accepted table",
    )
    p.add_argument("--verified-path", default=None, help="audit-table path")

    p = sub.add_parser("curate-full")
    p.add_argument("docs_path")
    p.add_argument("output_path")
    p.add_argument("--embeddings-path", default=None)
    p.add_argument("--key-col", default="doc_id")
    p.add_argument("--text-col", default="text")
    p.add_argument("--n-shards", type=int, default=16)
    p.add_argument("--jaccard-threshold", type=float, default=0.8)
    p.add_argument(
        "--remove-spans",
        action="store_true",
        help="insert the substring-grain span-removal stage (rewrites "
        "surviving docs whitespace-normalized, case preserved)",
    )
    p.add_argument(
        "--balance-by",
        default=None,
        help="group column for the mixture-balance stage (deterministic "
        "md5-threshold downsample of every group to --balance-target)",
    )
    p.add_argument(
        "--balance-target",
        type=int,
        default=None,
        help="per-group target size for --balance-by (default: the "
        "smallest group's size)",
    )
    p.add_argument(
        "--pack-window",
        type=int,
        default=None,
        help="annotate survivors with token-stream offsets and "
        "first/last training window of this many tokens",
    )
    p.add_argument(
        "--windows-per-shard",
        type=int,
        default=None,
        help="with --pack-window: export self-contained token-range "
        "shards of this many windows instead of hash shards",
    )

    p = sub.add_parser("dq-audit")
    p.add_argument("table_path")
    p.add_argument("--complete", default="", help="comma-separated columns")
    p.add_argument("--unique", default="", help="comma-separated columns")
    p.add_argument("--min-rows", type=int, default=1)

    p = sub.add_parser("point-lookup")
    p.add_argument("table_path")
    p.add_argument("column")
    p.add_argument("value")

    args = parser.parse_args(argv)

    from airflow_dags_spark.session import get_spark

    spark = get_spark(app_name=f"ads-{args.cmd}")
    now = datetime.now(timezone.utc)
    today_int = int(now.strftime("%Y%m%d"))
    yesterday_int = int((now - timedelta(days=1)).strftime("%Y%m%d"))

    if args.cmd == "initial-load":
        from airflow_dags_spark.jobs.price_paid import initial_load

        initial_load(spark, args.csv_path, args.table_path)
    elif args.cmd == "monthly-update":
        from airflow_dags_spark.jobs.price_paid import monthly_update

        monthly_update(spark, args.csv_path, args.table_path)
    elif args.cmd == "enrich-outcodes":
        from airflow_dags_spark.jobs.live_http import typeahead_fetch
        from airflow_dags_spark.jobs.outcodes import enrich_outcodes

        enrich_outcodes(
            spark, args.areas_path, typeahead_fetch, batch_size=args.batch_size
        )
    elif args.cmd == "pull-sales":
        from airflow_dags_spark.jobs.live_http import search_page_fetch
        from airflow_dags_spark.jobs.sales import pull_new_sales

        pull_new_sales(
            spark,
            args.areas_path,
            args.sales_path,
            search_page_fetch,
            today_int=today_int,
            yesterday_int=yesterday_int,
            batch_areas=args.batch_areas,
        )
    elif args.cmd == "json-to-csv":
        from airflow_dags_spark.jobs.json_to_csv import json_to_csv

        json_to_csv(spark, args.input_path, args.output_path)
    elif args.cmd == "wds-export":
        from airflow_dags_spark.operators.export import write_wds_shards

        manifest = write_wds_shards(
            spark.read.parquet(args.docs_path),
            args.output_path,
            key_col=args.key_col,
            text_col=args.text_col,
            meta_cols=[c for c in args.meta_cols.split(",") if c],
            n_shards=args.n_shards,
        )
        for r in manifest.collect():
            print(r["tar_path"], r["n_samples"], r["tar_bytes"])
    elif args.cmd == "curate-full":
        from airflow_dags_spark.jobs.curate_full import curate_full

        emb = (
            spark.read.parquet(args.embeddings_path)
            if args.embeddings_path
            else None
        )
        out = curate_full(
            spark,
            spark.read.parquet(args.docs_path),
            embeddings=emb,
            out_path=args.output_path,
            key_col=args.key_col,
            text_col=args.text_col,
            n_shards=args.n_shards,
            jaccard_threshold=args.jaccard_threshold,
            remove_spans=args.remove_spans,
            balance_by=args.balance_by,
            balance_target=args.balance_target,
            pack_window=args.pack_window,
            windows_per_shard=args.windows_per_shard,
        )
        for s_ in out["funnel"]:
            print(s_["stage"], s_["rows_in"], "->", s_["rows_out"])
        if "packing" in out:
            pk = out["packing"]
            print(
                "packing", pk["n_tokens"], "tokens ->", pk["n_windows"],
                f"windows of {pk['window_tokens']}",
            )
    elif args.cmd == "dq-audit":
        from airflow_dags_spark.functions.quality import Expectations

        exp = Expectations().expect_row_count(args.min_rows)
        for c in [c for c in args.complete.split(",") if c]:
            exp = exp.expect_complete(c)
        for c in [c for c in args.unique.split(",") if c]:
            exp = exp.expect_unique(c)
        report = exp.run(spark.read.parquet(args.table_path))
        failed = 0
        for r in report.collect():
            print(r["constraint"], r["observed"], "PASS" if r["passed"] else "FAIL")
            failed += 0 if r["passed"] else 1
        if failed:
            raise SystemExit(2)  # nonzero for the orchestration layer
    elif args.cmd == "point-lookup":
        from pyspark.sql import functions as F

        from airflow_dags_spark.sources.tables import read_parquet

        # with no index, a point lookup is the filtered scan of the table
        # (operators/skipping.py:point_lookup); open it once for both the
        # value's type and the scan
        df = read_parquet(spark, args.table_path)
        dtype = dict(df.dtypes).get(args.column)
        value = int(args.value) if dtype in ("bigint", "int") else args.value
        for r in df.where(F.col(args.column) == value).collect():
            print(r)
    elif args.cmd == "semantic-dedup":
        from airflow_dags_spark.operators.clustering import semantic_dedup

        marked = semantic_dedup(
            spark.read.parquet(args.embeddings_path),
            args.threshold,
            key_col=args.key_col,
            vec_col=args.vec_col,
            target_cluster_size=args.target_cluster_size,
        )
        marked.write.mode("overwrite").parquet(args.output_path)
        kept = marked.where("kept").count()
        print(f"kept={kept}")
    elif args.cmd == "vacuum":
        from airflow_dags_spark.operators.upsert import ParquetTable

        removed = ParquetTable(spark, args.table_path, args.key).vacuum_orphans()
        print(f"removed={len(removed)}")
    elif args.cmd == "reconcile-advisories":
        from airflow_dags_spark.operators.ingest import reconcile_advisories

        report = reconcile_advisories(
            spark,
            args.advisory_path,
            args.accepted_path,
            key_col=args.key_col,
            text_col=args.text_col,
            jaccard_threshold=args.jaccard_threshold,
            quarantine=args.quarantine,
            verified_path=args.verified_path,
        )
        n_flags = report.count()
        n_confirmed = report.where("verified").count()
        print(
            f"flags={n_flags} confirmed={n_confirmed} "
            f"quarantined={n_confirmed if args.quarantine else 0}"
        )
    elif args.cmd == "compact":
        from airflow_dags_spark.operators.maintenance import compact

        stats = compact(
            spark,
            args.table_path,
            target_file_bytes=args.target_file_mb * 1024 * 1024,
        )
        print(stats)
    elif args.cmd == "zorder":
        from airflow_dags_spark.operators import commit
        from airflow_dags_spark.operators.maintenance import zorder_layout

        commit.recover(spark, args.table_path)
        cols = args.columns.split(",")
        df = spark.read.parquet(args.table_path)
        clustered = zorder_layout(df, cols, n_files=args.n_files)
        # same recovering stage-and-swap as compact()
        commit.swap(
            spark, args.table_path, clustered.write.mode("overwrite").parquet, "zorder"
        )
    elif args.cmd == "pack-sequences":
        from airflow_dags_spark.functions.text import token_count
        from airflow_dags_spark.operators.export import pack_sequences

        docs = spark.read.parquet(args.docs_path).select(
            args.key_col, token_count(args.text_col).alias("n_tokens")
        )
        packed = pack_sequences(
            docs,
            args.key_col,
            "n_tokens",
            budget=args.budget,
            n_shards=args.n_shards,
        )
        # one file per shard: the loader maps shard -> worker statically
        packed.repartition(args.n_shards, "shard").write.mode(
            "overwrite"
        ).partitionBy("shard").parquet(args.output_path)
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1:])
