"""Per-query profile: build vs execute, read from the in-process status store.

*Build* is ``fn(spark, sf_dir)``, where operator code may run eager jobs;
*execute* is a ``noop`` write, which runs the whole plan and keeps nothing.
Each phase runs under its own job group and is read back from the status
store the live listener keeps anyway (no event log, conf or UI needed):
the per-stage DAG cost view of *Performance Models of Data Parallel DAG
Workflows* (ICDE 2021). Unlike ``metrics.scan_summary``, it walks no plan.
"""

from __future__ import annotations

import time

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from airflow_dags_spark.plans import registry
from airflow_dags_spark.schemas import TESTDATA_TABLES
from airflow_dags_spark.sources.tables import read_table

# StageData getter -> record field, summed over a phase's completed stages
_STAGE_FIELDS = {
    "numCompleteTasks": "tasks",
    "executorRunTime": "run_ms",
    "inputRecords": "input_records",
    "shuffleWriteBytes": "shuffle_write_bytes",
    "shuffleWriteRecords": "shuffle_write_records",
    "shuffleReadBytes": "shuffle_read_bytes",
    "diskBytesSpilled": "spill_bytes",
}


def explain_string(df) -> str:
    """``df.explain("formatted")`` as a string."""
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def warm_up(spark, sf_dir: str) -> None:
    """Pay session start-up once: the first touch of each table (footers and
    page cache; 2-5x on whichever query reads it first), one headline plan
    and a pandas UDF on every core (Python workers start on first use)."""
    for t in TESTDATA_TABLES:
        _noop(read_table(spark, sf_dir, t))
    registry.load_all()
    _noop(registry.QUERIES["q1_pricing_summary"](spark, sf_dir))

    @pandas_udf("long")
    def _warm(v: pd.Series) -> pd.Series:
        return v

    cores = spark.sparkContext.defaultParallelism
    _noop(spark.range(100_000).repartition(cores).select(_warm(F.col("id"))))


def _phase(spark, jobs: list[int]) -> dict[str, int]:
    sc = spark.sparkContext
    store, no_tasks = sc._jsc.sc().statusStore(), sc._jvm.java.util.ArrayList()
    out = {"jobs": len(jobs), "stages": 0, **dict.fromkeys(_STAGE_FIELDS.values(), 0)}
    infos = [sc.statusTracker().getJobInfo(j) for j in jobs]
    for sid in {s for info in infos if info for s in info.stageIds}:
        attempts = store.stageData(sid, False, no_tasks, False, None)
        for stage in (attempts.apply(i) for i in range(attempts.size())):
            if str(stage.status()) == "COMPLETE":  # not SKIPPED (shuffle reused)
                out["stages"] += 1
                for getter, field in _STAGE_FIELDS.items():
                    out[field] += int(getattr(stage, getter)())
    return out


def _rows_out(spark, jobs: list[int]) -> int:
    """The first ``number of output rows`` in root-first (node id) order of
    the SQL execution that ran ``jobs``; write and sort roots have none."""
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    for ex in (execs.apply(i) for i in reversed(range(execs.size()))):
        if any(ex.jobs().contains(j) for j in jobs):
            values = store.executionMetrics(ex.executionId())
            graph = store.planGraph(ex.executionId()).allNodes()
            for node in sorted((graph.apply(i) for i in range(graph.size())), key=lambda n: n.id()):
                for m in (node.metrics().apply(i) for i in range(node.metrics().size())):
                    if m.name() == "number of output rows" and values.contains(m.accumulatorId()):
                        return int(values.apply(m.accumulatorId()).replace(",", ""))
    return 0


def profile_query(spark, name: str, fn, sf_dir: str) -> dict:
    """Build ``fn(spark, sf_dir)`` under job group ``build:<name>``, write it
    to ``noop`` under ``exec:<name>``. The record holds ``build_s``,
    ``exec_s``, ``rows_out`` and, per phase (``build_``/``exec_`` prefix),
    ``jobs``, completed ``stages`` and the ``_STAGE_FIELDS`` sums. The job
    group is cleared even when the query raises; the error propagates."""
    sc = spark.sparkContext
    groups = {p: f"{p}:{name}" for p in ("build", "exec")}
    seen = {p: set(sc.statusTracker().getJobIdsForGroup(g)) for p, g in groups.items()}
    rec: dict = {"query": name}
    try:
        sc.setJobGroup(groups["build"], groups["build"])
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        rec["build_s"] = round(time.perf_counter() - t0, 4)
        sc.setJobGroup(groups["exec"], groups["exec"])
        t0 = time.perf_counter()
        _noop(df)
        rec["exec_s"] = round(time.perf_counter() - t0, 4)
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # the store is fed asynchronously
    jobs = {p: sorted(set(sc.statusTracker().getJobIdsForGroup(g)) - seen[p])
            for p, g in groups.items()}
    for p in groups:
        rec.update({f"{p}_{k}": v for k, v in _phase(spark, jobs[p]).items()})
    rec["rows_out"] = _rows_out(spark, jobs["exec"])
    return rec
