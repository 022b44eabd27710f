#!/usr/bin/env python3
"""Benchmark for the spark-graft job layer.

    python3 perfbench/run.py --workload sweep_tail --seed 1 --seconds 14 --trace 0

Run from the root of a checkout. The last line of stdout is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; a readable listing of
every metric, with its unit, goes to stderr. The per-operation trace of a
run is written to ``perfbench/out/``.

Load model: one closed-loop client. This one Python process issues the
operations one after another on a ``local[N]`` session, N = the CPUs this
process may use, the way an Airflow task runs a job. An *operation* is,
for the query workloads, building one registered query and running it into
the ``noop`` sink; for ``pricepaid_cycle``, one call of a job entry point
or one read of the live table. A *pass* runs a workload's operations once,
in a fixed order.

A run:

1. set-up: generate the seeded inputs ``SETUP_REPEATS`` times (a fresh
   directory each time), start the session (a fresh JVM), then one
   untimed warm pass, which runs cold. Every output of the warm pass is
   checked. ``setup_s`` = median input generation + session start + warm
   pass.
2. measure: ``round(--seconds / PASS_S)`` passes (at least one). The
   count, not a clock, ends the loop, so that every run of a workload
   measures the same passes at the same stage of JIT warm-up: the passes
   keep getting faster for several passes after the warm one. The
   per-pass metrics are made of per-operation medians over these passes.
   With ``--trace 1`` the first half of the passes runs untraced and the
   second half traced; per-layer numbers come from the traced
   passes and ``trace.overhead_s`` is the difference of the two medians.
3. check again what the measured passes left behind, stop the session and
   its processes, and delete every file the run made except the trace.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# The operations of each query workload, frozen here so that editing
# bench.py does not move the benchmark. Each is a subset (of bench.py's 44
# HEADLINE queries, and of the costliest queries outside them) that keeps
# every layer loaded while one run stays near a minute on 4 cores.
# `sweep_tail` leaves out graph_pagerank_purchases (106 build jobs, 8 s warm
# and 16 s cold): with it a pass is too long to measure three of them in
# the time a run has. The IVF store (21 build jobs) keeps the build loop
# and the store layer loaded.
# `headline` runs by hand only and is not in BENCHMARK.json: three
# workloads do not fit the time allowed for the repeated runs, and every
# layer it loads is also loaded by `sweep_tail` or `pricepaid_cycle`.
HEADLINE = [
    "q1_pricing_summary",
    "q5_nation_revenue",
    "q9_product_profit",
    "q18_large_volume_customers",
    "k4_merge_upsert",
    "dedup_exact",
    "sim_cosine_topk",
    "window_session_30m",
    "agg_weighted_median",
    "stats_kruskal_wallis",
    "ml_batch_score_arrow",
]
SWEEP_TAIL = [
    "sim_ivf_store_topk",
    "timeseries_lttb",
    "dedup_semantic_embedding",
    "fuzzy_join_part_names",
]
PRICEPAID_OPS = "initial_load, (monthly_update, read_after_write) x n_deltas, enrich_outcodes, pull_new_sales, compact"
WORKLOADS = {
    "headline": HEADLINE,
    "sweep_tail": SWEEP_TAIL,
    "pricepaid_cycle": PRICEPAID_OPS,
}

SIZES = {
    "full": {"sf": 0.01, "n_bulk": 50_000, "n_delta": 5_000, "n_deltas": 2, "n_areas": 120},
    "smoke": {"sf": 0.001, "n_bulk": 2_000, "n_delta": 300, "n_deltas": 2, "n_areas": 30},
}
SETUP_REPEATS = 3
# seconds one measured pass of a workload takes on 4 cores at the seed commit
PASS_S = 7.0

# pass_cpu_s: CPU seconds (user + system, of this process, the JVM and the
# Python workers) one pass costs, as the sum over its operations of each
# one's median over the measured passes.
END_TO_END = {
    "setup_s": "s",
    "pass_cpu_s": "s",
}
# Workload-level results reported with the per-layer ones: they are zero or
# not defined on some workload, or spread too widely between runs to carry a
# regression bound. Wall time is in the second group. On a shared 4-vCPU
# virtual machine the hypervisor takes from 0.1 to 15 CPU seconds from one
# run's measured passes to the next, and a stolen second on Spark's critical
# path (job scheduling hand-offs between threads) costs the wall clock
# several: over ten seeds the quartiles of total_s spread by 15-29% of the
# median on sweep_tail, of pass_cpu_s by 6-12%, since the kernel charges no
# stolen time to a process. The median and the slowest operation's latency
# rest on one or two operations each. Peak RSS follows the JVM's lazily
# grown 8g heap.
WORKLOAD_EXTRAS = {
    "total_s": "s",
    "geomean_op_s": "s",
    "op_p50_s": "s",
    "op_tail_s": "s",
    "peak_rss_mb": "MB",
    "error_rate": "ratio",
    "load_rows_per_s": "rows/s",
    "update_p50_s": "s",
    "read_after_write_p50_s": "s",
    "write_amp": "ratio",
    "space_amp": "ratio",
}
# layer -> (metrics, the end-to-end metric each should move, on which workloads)
LAYERS = {
    "session": (["session.start_s"], "setup_s", "all"),
    "plans": (["plans.build_s", "plans.build_jobs", "plans.build_share"], "pass_cpu_s, total_s",
              "sweep_tail (no change predicted on headline)"),
    "exec": (["exec.exec_s", "exec.jobs", "exec.stages", "exec.tasks", "exec.task_run_s", "exec.gc_s",
              "exec.core_util"], "pass_cpu_s, geomean_op_s", "headline, sweep_tail"),
    "sources": (["sources.scan_s", "sources.bytes_read", "sources.records_read", "sources.scan_tasks",
                 "sources.selectivity"], "load_rows_per_s on pricepaid_cycle; geomean_op_s on headline",
                "headline, pricepaid_cycle"),
    "shuffle": (["shuffle.write_bytes", "shuffle.read_bytes", "shuffle.fetch_wait_s", "shuffle.spill_bytes"],
                "pass_cpu_s, geomean_op_s", "headline, sweep_tail"),
    "python": (["python.run_s", "python.start_s", "python.bytes_sent", "python.bytes_returned"],
               "pass_cpu_s, total_s", "sweep_tail (small on headline, none on pricepaid_cycle)"),
    "upsert": (["upsert.insert_if_absent_s", "upsert.merge_upsert_s", "upsert.advance_watermark_s", "upsert.s",
                "upsert.bytes_written", "upsert.files_written", "upsert.live_files", "upsert.useful_ratio"],
               "update_p50_s, write_amp, read_after_write_p50_s", "pricepaid_cycle"),
    "maintenance": (["maintenance.compact_s", "maintenance.bytes_rewritten"],
                    "write_amp, read_after_write_p50_s", "pricepaid_cycle"),
    "store": (["store.calls", "store.s", "store.jobs"], "pass_cpu_s, total_s", "sweep_tail"),
    "http": (["http.fetches", "http.s"], "total_s", "pricepaid_cycle"),
    "trace": (["trace.overhead_s"], "none", "all"),
}
UNITS = {
    "session.start_s": "s", "plans.build_s": "s", "plans.build_jobs": "count", "plans.build_share": "ratio",
    "exec.exec_s": "s", "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.task_run_s": "s", "exec.gc_s": "s", "exec.core_util": "ratio", "sources.scan_s": "s",
    "sources.bytes_read": "bytes", "sources.records_read": "count", "sources.scan_tasks": "count",
    "sources.selectivity": "ratio", "shuffle.write_bytes": "bytes", "shuffle.read_bytes": "bytes",
    "shuffle.fetch_wait_s": "s", "shuffle.spill_bytes": "bytes", "python.run_s": "s", "python.start_s": "s",
    "python.bytes_sent": "bytes", "python.bytes_returned": "bytes", "upsert.insert_if_absent_s": "s",
    "upsert.merge_upsert_s": "s", "upsert.advance_watermark_s": "s", "upsert.s": "s",
    "upsert.bytes_written": "bytes", "upsert.files_written": "count", "upsert.live_files": "count", "upsert.useful_ratio": "ratio",
    "maintenance.compact_s": "s", "maintenance.bytes_rewritten": "bytes", "store.calls": "count",
    "store.s": "s", "store.jobs": "count", "http.fetches": "count", "http.s": "s", "trace.overhead_s": "s",
}
# The per-layer metrics the result line carries with --trace 1; every other
# one goes to the listing on stderr and to the trace file. Left out are the
# layer times that are zero by construction on a benchmark workload (a layer
# the workload never calls, shuffle fetch wait in local mode, GC on short
# tasks), since a time that reads zero on every run says nothing.
REPORTED = [
    "session.start_s", "plans.build_jobs", "plans.build_share", "exec.exec_s", "exec.jobs", "exec.stages",
    "exec.tasks", "exec.task_run_s", "exec.core_util", "sources.scan_s", "sources.bytes_read",
    "sources.records_read", "sources.scan_tasks", "sources.selectivity", "shuffle.write_bytes",
    "shuffle.read_bytes", "shuffle.spill_bytes", "python.run_s", "python.start_s", "python.bytes_sent",
    "python.bytes_returned", "upsert.s", "upsert.bytes_written", "upsert.files_written", "upsert.live_files",
    "upsert.useful_ratio", "maintenance.bytes_rewritten", "store.calls", "store.jobs", "http.fetches",
    "trace.overhead_s", "total_s", "geomean_op_s", "op_p50_s", "op_tail_s", "peak_rss_mb", "error_rate",
    "load_rows_per_s", "write_amp", "space_amp",
]
ALL_UNITS = {**UNITS, **WORKLOAD_EXTRAS}
PER_LAYER = {k: ALL_UNITS[k] for k in REPORTED}


def cpus() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


class Bench:
    def __init__(self, args, work: str) -> None:
        self.args = args
        self.work = work
        self.size = SIZES[args.size]
        self.n = cpus()
        self.traced_run = bool(args.trace)
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.peak_rss = 0.0
        self.result_rows: dict[str, int] = {}
        self.warm_sums: dict[str, str] = {}
        self.last_frames: dict = {}
        self.passes: list[dict] = []
        self.info: dict = {}

    # -- set-up ---------------------------------------------------------------

    def generate(self, out_dir: str) -> None:
        from perfbench import datagen

        if self.args.workload == "pricepaid_cycle":
            s = self.size
            self.inputs = datagen.write_pricepaid_inputs(
                out_dir, self.args.seed, s["n_bulk"], s["n_delta"], s["n_deltas"], s["n_areas"]
            )
            self.info["inputs"] = self.inputs["stats"]
        else:
            self.data_dir = out_dir
            self.info["inputs"] = datagen.write_star_tables(out_dir, self.size["sf"], self.args.seed)

    def start_session(self) -> None:
        from airflow_dags_spark.session import get_spark

        w = self.work
        confs = {
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(w, "warehouse"),
            "spark.local.dir": os.path.join(w, "local"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.path.join(w, 'tmp')} -Dderby.system.home={os.path.join(w, 'derby')} "
                # no hsperfdata file under /tmp
                "-XX:-UsePerfData"
            ),
        }
        if self.traced_run:
            os.makedirs(os.path.join(w, "eventlog"), exist_ok=True)
            confs.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": os.path.join(w, "eventlog"),
                    # Spark 4.1 defaults to a zstd-compressed rolling log
                    # directory, which plain Python cannot read
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        # the query workloads run the way bench.py does (one shuffle
        # partition per core); the job cycle the way jobs/cli.py does
        parts = None if self.args.workload == "pricepaid_cycle" else self.n
        self.spark = get_spark(app_name=f"perfbench-{self.args.workload}", shuffle_partitions=parts,
                               extra_confs=confs)
        self.spark.sparkContext.setLogLevel("ERROR")

    def setup(self) -> None:
        from perfbench.trace import Tracer, wrap_layers

        gen_s = []
        for r in range(SETUP_REPEATS):
            out = os.path.join(self.work, f"inputs-{r}")
            t0 = time.perf_counter()
            self.generate(out)
            gen_s.append(time.perf_counter() - t0)
            if r:
                shutil.rmtree(os.path.join(self.work, f"inputs-{r - 1}"))
        t0 = time.perf_counter()
        self.start_session()
        self.session_start_s = time.perf_counter() - t0
        from airflow_dags_spark.plans import registry

        registry.load_all()
        self.registry = registry
        self.tracer = Tracer(self.spark.sparkContext)
        if self.traced_run:
            wrap_layers(self.tracer)
        if self.args.workload == "pricepaid_cycle":
            from perfbench.check import PricePaidModel
            from perfbench.datagen import TODAY_INT, YESTERDAY_INT
            from perfbench.fixtures import FixtureFetcher

            self.model = PricePaidModel(self.inputs, TODAY_INT, YESTERDAY_INT)
            self.fetch_log = os.path.join(self.work, "fetch.log")
            self.fetcher = FixtureFetcher(self.inputs["fixtures"], self.fetch_log)
        else:
            from perfbench.check import duckdb_conn

            self.duck = duckdb_conn(self.data_dir)
        warm = self.info["warm_pass"] = self.run_pass("warm", traced=False, check=True)
        self.gen_s = statistics.median(gen_s)
        self.setup_s = self.gen_s + self.session_start_s + warm["total_s"]

    # -- operations -----------------------------------------------------------

    def phase(self, op_id: str, layer: str, name: str):
        self.tracer.job_group(f"{op_id}|{name}")
        return self.tracer.span(layer, name)

    def query_ops(self, names: list[str]) -> list:
        def op(name):
            def run(op_id):
                with self.phase(op_id, "plans", "build"):
                    df = self.registry.QUERIES[name](self.spark, self.data_dir)
                with self.phase(op_id, "exec", "exec"):
                    df.write.format("noop").mode("overwrite").save()
                return df

            return name, run

        return [op(n) for n in names]

    def pricepaid_ops(self, label: str) -> list:
        from airflow_dags_spark.jobs.outcodes import enrich_outcodes
        from airflow_dags_spark.jobs.price_paid import initial_load, monthly_update
        from airflow_dags_spark.jobs.sales import pull_new_sales
        from perfbench.datagen import TODAY_INT, YESTERDAY_INT

        d = os.path.join(self.work, "passes", label)
        table, areas, sales = (os.path.join(d, x) for x in ("price_paid", "areas", "sales"))
        for src, dst in ((self.inputs["areas"], areas), (self.inputs["sales"], sales)):
            os.makedirs(dst)
            shutil.copy(src, os.path.join(dst, "part-00000.parquet"))
        self.pass_paths = (table, areas, sales)
        spark, csv = self.spark, self.inputs["csv"]

        def job(name, fn):
            def run(op_id):
                with self.phase(op_id, "exec", name):
                    return fn()

            return name, run

        ops = [job("initial_load", lambda: initial_load(spark, csv[0], table))]
        for i in range(1, len(csv)):
            ops.append(job("monthly_update", lambda i=i: monthly_update(spark, csv[i], table)))
            ops.append(job("read_after_write", lambda i=i: self.read_after_write(table, i)))
        ops += [
            job("enrich_outcodes", lambda: enrich_outcodes(spark, areas, self.fetcher.typeahead, rate_limit_s=0)),
            job("pull_new_sales", lambda: pull_new_sales(
                spark, areas, sales, self.fetcher.page, TODAY_INT, YESTERDAY_INT, rate_limit_s=0)),
            job("compact", lambda: self.compact(table)),
        ]
        return ops

    def read_after_write(self, table: str, i: int):
        from airflow_dags_spark.jobs.price_paid import AREA_COL, KEY
        from airflow_dags_spark.operators.skipping import point_lookup
        from airflow_dags_spark.operators.upsert import ParquetTable

        probe = self.model.probes[i]
        found = [r[0] for r in point_lookup(self.spark, table, KEY, probe).select(KEY).collect()]
        counts = {
            r[0]: r[1]
            for r in ParquetTable(self.spark, table, KEY).read().groupBy(AREA_COL).count().collect()
        }
        return i, found, counts

    def compact(self, table: str) -> dict:
        from airflow_dags_spark.operators.maintenance import compact

        with self.tracer.span("maintenance", "compact"):
            return compact(self.spark, table)

    # -- checks (never inside an operation's timing) --------------------------

    def check_query(self, name: str, df, first: bool) -> str | None:
        from perfbench.check import check_no_oracle, checksum, compare_oracle

        pdf = df.toPandas()
        self.result_rows[name] = len(pdf)
        if name in self.registry.ORACLES:
            return compare_oracle(pdf, self.duck.execute(self.registry.ORACLES[name]).fetchdf())
        if first:
            self.warm_sums[name] = checksum(pdf)
            return check_no_oracle(name, pdf, self.duck)
        if checksum(pdf) != self.warm_sums.get(name):
            return "result checksum changed between the warm and the last pass"
        return None

    def check_pricepaid_op(self, name: str, out, rec: dict) -> str | None:
        if name == "read_after_write":
            i, found, counts = out
            probe = self.model.probes[i]
            if found != [probe]:
                return f"point lookup of {probe} returned {found}"
            if counts != {"OX": self.model.counts[i]}:
                return f"counts after delta {i}: {counts}, model {self.model.counts[i]}"
        if name == "compact" and not out.get("skipped"):
            rec["bytes_rewritten"] = out["bytes"]
        return None

    # -- passes ---------------------------------------------------------------

    def run_pass(self, label: str, traced: bool, check: bool) -> dict:
        from perfbench.check import dir_files
        from perfbench.fixtures import read_log
        from perfbench.trace import tree_cpu_s, tree_rss_mb

        pricepaid = self.args.workload == "pricepaid_cycle"
        ops = self.pricepaid_ops(label) if pricepaid else self.query_ops(WORKLOADS[self.args.workload])
        rec = {"label": label, "traced": traced, "ops": [], "bytes_rewritten": 0}
        seen: dict[str, int] = {}
        fetches0 = len(read_log(self.fetch_log)) if pricepaid else 0
        self.tracer.enabled = traced
        for i, (name, run) in enumerate(ops):
            op_id = f"{label}:{i}:{name}"
            self.tracer.op_id = op_id
            err, out = None, None
            cpu0 = tree_cpu_s()
            wall0, t0 = time.time(), time.perf_counter()
            try:
                with self.tracer.span("op", name):
                    out = run(op_id)
            except Exception as e:  # an operation that raises counts as failed
                err = f"raised {type(e).__name__}: {str(e)[:300]}"
            dt = time.perf_counter() - t0
            cpu = tree_cpu_s() - cpu0
            self.tracer.job_group("idle")
            self.attempted += 1
            t1 = time.perf_counter()
            if err is None and pricepaid:
                err = self.check_pricepaid_op(name, out, rec)
            elif err is None:
                if check:
                    err = self.check_query(name, out, first=True)
                else:
                    self.last_frames[name] = out
            rec["ops"].append({"id": op_id, "name": name, "s": dt, "cpu_s": cpu, "wall0": wall0,
                               "wall1": wall0 + dt, "check_s": time.perf_counter() - t1})
            self.peak_rss = max(self.peak_rss, tree_rss_mb())
            if pricepaid:
                for path in self.pass_paths:
                    seen.update(dir_files(path))
                if name == "monthly_update":
                    rec["live_files"] = len(dir_files(self.pass_paths[0]))
            if err:
                self.failed += 1
                self.errors.append(f"{op_id}: {err}")
                if pricepaid:
                    break
        self.tracer.enabled = False
        rec["complete"] = err is None
        rec["total_s"] = sum(o["s"] for o in rec["ops"])
        rec["cpu_s"] = sum(o["cpu_s"] for o in rec["ops"])
        if pricepaid:
            self.finish_pricepaid_pass(rec, seen, fetches0)
        return rec

    def finish_pricepaid_pass(self, rec: dict, seen: dict, fetches0: int) -> None:
        from perfbench.check import dir_files
        from perfbench.fixtures import read_log

        table, areas, sales = self.pass_paths
        if rec["complete"]:
            err = self.model.check_tables(table, areas, sales)
            if err:
                self.failed += 1
                self.errors.append(f"{rec['label']}: {err}")
        live = sum(dir_files(table).values())
        table_written = sum(v for k, v in seen.items() if k.startswith(table + os.sep))
        rec["bytes_written"] = sum(seen.values())
        rec["files_written"] = len(seen)
        rec["write_amp"] = table_written / live if live else 0.0
        rec["space_amp"] = live / self.model.csv_bytes_live if self.model.csv_bytes_live else 0.0
        load = [o["s"] for o in rec["ops"] if o["name"] in ("initial_load", "monthly_update")]
        rec["load_rows_per_s"] = sum(self.inputs["stats"]["csv_rows"]) / sum(load) if load else 0.0
        log = read_log(self.fetch_log)[fetches0:]
        rec["http_fetches"] = len(log)
        rec["http_s"] = sum(s for _, s in log)
        shutil.rmtree(os.path.dirname(table))

    def measure(self) -> None:
        from perfbench.trace import steal_s

        steal0 = steal_s()
        n = max(1, round(self.args.seconds / PASS_S))
        halves = [(False, n - n // 2), (True, max(1, n // 2))] if self.traced_run else [(False, n)]
        for traced, count in halves:
            for _ in range(count):
                self.passes.append(self.run_pass(f"p{len(self.passes)}", traced=traced, check=False))
        # CPU time the host took from this machine while measuring: the
        # usual cause of a run that reads slow on every operation
        self.info["measure_steal_s"] = steal_s() - steal0
        # the results of the last measured pass: against the oracle, or, for
        # a query without one, against the warm pass (the job cycle is
        # checked after every pass)
        for name, df in self.last_frames.items():
            self.attempted += 1
            err = None
            try:
                err = self.check_query(name, df, first=False)
            except Exception as e:
                err = f"raised {type(e).__name__}: {str(e)[:300]}"
            if err:
                self.failed += 1
                self.errors.append(f"final:{name}: {err}")

    def probe_sources(self) -> float:
        """Scan-only probe of every input the workload reads."""
        from airflow_dags_spark.schemas import PRICE_PAID_RAW_SCHEMA
        from airflow_dags_spark.sources.csv import read_headerless_csv
        from airflow_dags_spark.sources.tables import read_table
        from perfbench.check import STAR_TABLES

        self.tracer.enabled = True
        self.tracer.op_id = "probe"
        t0 = time.perf_counter()
        if self.args.workload == "pricepaid_cycle":
            for path in self.inputs["csv"]:
                self.tracer.job_group(f"probe|{os.path.basename(path)}")
                read_headerless_csv(self.spark, path, PRICE_PAID_RAW_SCHEMA).write.format("noop").mode(
                    "overwrite").save()
        else:
            for t in STAR_TABLES:
                self.tracer.job_group(f"probe|{t}")
                read_table(self.spark, self.data_dir, t).write.format("noop").mode("overwrite").save()
        self.tracer.enabled = False
        return time.perf_counter() - t0

    # -- metrics ---------------------------------------------------------------

    def by_position(self, key: str) -> float:
        """Sum over a pass's operations of each one's median ``key`` over the
        measured passes: what one pass costs, left unmoved by a pass that a
        burst of host load slowed. A pass that stopped at a failed operation
        counts up to the failure."""
        timed = [p for p in self.passes if not p["traced"]]
        return sum(statistics.median(o[key] for o in ops) for ops in zip(*(p["ops"] for p in timed)))

    def end_to_end(self) -> dict:
        return {"setup_s": self.setup_s, "pass_cpu_s": self.by_position("cpu_s")}

    def extras(self) -> dict:
        timed = [p for p in self.passes if not p["traced"]]
        out = dict.fromkeys(WORKLOAD_EXTRAS, 0.0)
        by_op: dict[str, list[float]] = {}
        for p in timed:
            for o in p["ops"]:
                by_op.setdefault(o["name"], []).append(o["s"])
        medians = {k: statistics.median(v) for k, v in by_op.items()}
        slowest = max(medians, key=medians.get)
        self.info["op_tail"] = {"op": slowest, "samples": len(by_op[slowest]), "passes": len(timed)}
        self.info["op_medians_s"] = medians
        out["total_s"] = self.by_position("s")
        out["geomean_op_s"] = math.exp(statistics.fmean(math.log(v) for v in medians.values()))
        out["op_p50_s"] = statistics.median(medians.values())
        out["op_tail_s"] = medians[slowest]
        out["peak_rss_mb"] = self.peak_rss
        out["error_rate"] = self.failed / max(1, self.attempted)
        if self.args.workload == "pricepaid_cycle":
            ops = [o for p in timed for o in p["ops"]]
            upd = [o["s"] for o in ops if o["name"] == "monthly_update"]
            raw = [o["s"] for o in ops if o["name"] == "read_after_write"]
            for key in ("load_rows_per_s", "write_amp", "space_amp"):
                out[key] = statistics.median(p[key] for p in timed)
            out["update_p50_s"] = statistics.median(upd) if upd else 0.0
            out["read_after_write_p50_s"] = statistics.median(raw) if raw else 0.0
        return out

    def per_layer(self, groups: dict, jobs: list, probe_s: float) -> tuple[dict, list]:
        traced = [p for p in self.passes if p["traced"]]
        untraced = [p for p in self.passes if not p["traced"]]
        n = len(traced)
        tr = self.tracer
        tr.self_times()
        spans = [s for s in tr.spans if "t1" in s]
        by_id = {s["id"]: s for s in spans}

        def outermost(layer):
            return [s for s in spans if s["layer"] == layer
                    and (s["parent"] is None or by_id[s["parent"]]["layer"] != layer)]

        def self_s(layer, name=None):
            return sum(s["self_s"] for s in spans if s["layer"] == layer and (name is None or s["name"] == name))

        def in_spans(job, ss):
            return any(s["wall0"] <= job["submitted"] <= s["wall1"] for s in ss)

        ops, per_op = [], []
        for p in traced:
            ops.extend(p["ops"])
        totals: dict[str, float] = {}
        for o in ops:
            g = {ph: groups.get(f"{o['id']}|{ph}", {}) for ph in ("build", "exec")}
            if self.args.workload == "pricepaid_cycle":
                g = {"build": {}, "exec": groups.get(f"{o['id']}|{o['name']}", {})}
            rec = {"op": o["id"], "name": o["name"], "latency_s": o["s"]}
            for ph in ("build", "exec"):
                rec[f"{ph}_jobs"] = g[ph].get("jobs", 0)
            rec["build_s"] = sum(s["t1"] - s["t0"] for s in spans if s["op"] == o["id"] and s["layer"] == "plans")
            rec["exec_s"] = sum(s["t1"] - s["t0"] for s in spans if s["op"] == o["id"] and s["layer"] == "exec")
            both = [g["build"], g["exec"]]
            for key in ("stages", "tasks", "task_run_ms", "gc_ms", "bytes_read", "records_read", "scan_tasks",
                        "records_written", "shuffle_write_bytes", "shuffle_read_bytes", "fetch_wait_ms",
                        "spill_bytes", "python.run_ms", "python.start_ms", "python.init_ms",
                        "python.bytes_sent", "python.bytes_returned"):
                rec[key] = sum(x.get(key, 0) for x in both)
            rec["exec_stages"] = g["exec"].get("stages", 0)
            rec["exec_tasks"] = g["exec"].get("tasks", 0)
            rec["exec_task_run_ms"] = g["exec"].get("task_run_ms", 0)
            rec["exec_gc_ms"] = g["exec"].get("gc_ms", 0)
            rec["layer_self_s"] = {}
            for s in spans:
                if s["op"] == o["id"]:
                    rec["layer_self_s"][s["layer"]] = rec["layer_self_s"].get(s["layer"], 0) + s["self_s"]
            per_op.append(rec)
            for k, v in rec.items():
                if isinstance(v, (int, float)):
                    totals[k] = totals.get(k, 0) + v
        t = {k: v / max(1, n) for k, v in totals.items()}
        build_s, exec_s = t.get("build_s", 0.0), t.get("exec_s", 0.0)
        store_spans = outermost("store")
        rows_out = t.get("records_written", 0) or sum(self.result_rows.values())
        m = {
            "session.start_s": self.session_start_s,
            "plans.build_s": build_s,
            "plans.build_jobs": t.get("build_jobs", 0),
            "plans.build_share": build_s / (build_s + exec_s) if build_s + exec_s else 0.0,
            "exec.exec_s": exec_s,
            "exec.jobs": t.get("exec_jobs", 0),
            "exec.stages": t.get("exec_stages", 0),
            "exec.tasks": t.get("exec_tasks", 0),
            "exec.task_run_s": t.get("exec_task_run_ms", 0) / 1000.0,
            "exec.gc_s": t.get("exec_gc_ms", 0) / 1000.0,
            "exec.core_util": (t.get("exec_task_run_ms", 0) / 1000.0) / (exec_s * self.n) if exec_s else 0.0,
            "sources.scan_s": probe_s,
            "sources.bytes_read": t.get("bytes_read", 0),
            "sources.records_read": t.get("records_read", 0),
            "sources.scan_tasks": t.get("scan_tasks", 0),
            "sources.selectivity": rows_out / t["records_read"] if t.get("records_read") else 0.0,
            "shuffle.write_bytes": t.get("shuffle_write_bytes", 0),
            "shuffle.read_bytes": t.get("shuffle_read_bytes", 0),
            "shuffle.fetch_wait_s": t.get("fetch_wait_ms", 0) / 1000.0,
            "shuffle.spill_bytes": t.get("spill_bytes", 0),
            "python.run_s": t.get("python.run_ms", 0) / 1000.0,
            "python.start_s": (t.get("python.start_ms", 0) + t.get("python.init_ms", 0)) / 1000.0,
            "python.bytes_sent": t.get("python.bytes_sent", 0),
            "python.bytes_returned": t.get("python.bytes_returned", 0),
            "upsert.insert_if_absent_s": self_s("upsert", "insert_if_absent") / max(1, n),
            "upsert.merge_upsert_s": self_s("upsert", "merge_upsert") / max(1, n),
            "upsert.advance_watermark_s": self_s("upsert", "advance_watermark") / max(1, n),
            "upsert.s": self_s("upsert") / max(1, n),
            "upsert.bytes_written": statistics.fmean(p.get("bytes_written", 0) for p in traced),
            "upsert.files_written": statistics.fmean(p.get("files_written", 0) for p in traced),
            "upsert.live_files": statistics.fmean(p.get("live_files", 0) for p in traced),
            "upsert.useful_ratio": 0.0,
            "maintenance.compact_s": self_s("maintenance") / max(1, n),
            "maintenance.bytes_rewritten": statistics.fmean(p.get("bytes_rewritten", 0) for p in traced),
            "store.calls": len([s for s in store_spans if s["op"] != "probe"]) / max(1, n),
            "store.s": self_s("store") / max(1, n),
            "store.jobs": sum(1 for j in jobs if in_spans(j, store_spans)) / max(1, n),
            "http.fetches": statistics.fmean(p.get("http_fetches", 0) for p in traced),
            "http.s": statistics.fmean(p.get("http_s", 0) for p in traced),
            "trace.overhead_s": statistics.median(p["total_s"] for p in traced)
            - statistics.median(p["total_s"] for p in untraced),
        }
        if self.args.workload == "pricepaid_cycle":
            offered = sum(self.inputs["stats"]["csv_rows"][1:])
            m["upsert.useful_ratio"] = (self.model.counts[-1] - self.model.counts[0]) / offered
        return m, per_op

    def stop(self) -> None:
        """Stop the session, its JVM and every process under this one, and
        wait until each has ended."""
        from perfbench.trace import descendants, running

        procs = descendants(os.getpid())
        if self.spark is not None:
            try:
                self.spark.stop()
            except Exception:
                pass
            self.spark = None
        from pyspark import SparkContext

        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            try:
                gw.shutdown()
            except Exception:
                pass
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except Exception:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None
        for sig in (signal.SIGTERM, signal.SIGKILL):
            left = [p for p in procs if running(p)]
            for pid in left:
                try:
                    os.kill(pid, sig)
                except OSError:
                    pass
            deadline = time.time() + 10
            while left and time.time() < deadline:
                time.sleep(0.05)
                left = [p for p in left if running(p)]
            if not left:
                return


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=sorted(SIZES), default="full",
                    help="input size; 'smoke' is for the benchmark's own test")
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    if not os.path.isdir(os.path.join(ROOT, "airflow_dags_spark")):
        print(f"error: the airflow_dags_spark package is not under {ROOT}", file=sys.stderr)
        return 2

    work = os.path.join(HERE, ".work", f"run-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus())
    import tempfile

    tempfile.tempdir = os.environ["TMPDIR"]

    bench = Bench(args, work)
    phases = bench.info["phase_wall_s"] = {}
    t0 = time.perf_counter()
    try:
        bench.setup()
        phases["setup"] = time.perf_counter() - t0
        bench.measure()
        phases["measure"] = time.perf_counter() - t0 - phases["setup"]
        probe_s = bench.probe_sources() if args.trace else 0.0
        bench.stop()
        phases["stop"] = time.perf_counter() - t0 - phases["setup"] - phases["measure"]
        e2e = bench.end_to_end()
        extras = bench.extras()
        record = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
            "cpus": bench.n, "size": args.size, "operations": WORKLOADS[args.workload],
            "setup": {"gen_s": bench.gen_s, "session_start_s": bench.session_start_s,
                      "warm_pass_s": bench.setup_s - bench.gen_s - bench.session_start_s},
            "end_to_end": e2e, "workload_metrics": extras, "info": bench.info, "errors": bench.errors,
            "layers": {k: {"metrics": v[0], "should_move": v[1], "on": v[2]} for k, v in LAYERS.items()},
            "passes": bench.passes,
        }
        if args.trace:
            from perfbench.trace import read_event_log

            groups, jobs = read_event_log(os.path.join(work, "eventlog"))
            layer, per_op = bench.per_layer(groups, jobs, probe_s)
            layer.update(extras)
            record["per_layer"] = layer
            record["per_op"] = per_op
            record["spans"] = bench.tracer.spans
            metrics = {k: {"value": layer[k], "unit": u} for k, u in PER_LAYER.items()}
        else:
            metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
        out_dir = os.path.join(HERE, "out")
        os.makedirs(out_dir, exist_ok=True)
        with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as fh:
            json.dump(record, fh, indent=1, default=str)
    finally:
        bench.stop()
        shutil.rmtree(work, ignore_errors=True)

    listing = {**{k: (e2e[k], u) for k, u in END_TO_END.items()}, **{k: (extras[k], u) for k, u in
                                                                       WORKLOAD_EXTRAS.items()}}
    if args.trace:
        listing.update({k: (layer[k], u) for k, u in UNITS.items()})
    for k, (v, u) in listing.items():
        print(f"{k:32s} {v:>16.6g} {u}", file=sys.stderr)
    tail_info = bench.info["op_tail"]
    print(f"op_tail_s is the median of {tail_info['samples']} {tail_info['op']} samples over "
          f"{tail_info['passes']} passes", file=sys.stderr)
    print(f"wall time by phase: {json.dumps({k: round(v, 2) for k, v in phases.items()})}", file=sys.stderr)
    for e in bench.errors:
        print(f"error: {e}", file=sys.stderr)
    print(json.dumps({"correct": bench.failed == 0, "attempted": bench.attempted, "failed": bench.failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
