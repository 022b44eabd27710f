"""Tracing for the benchmark: spans, layer wrappers, the Spark event log and
process-tree memory.

Spans are recorded from the benchmark's own code around calls into the
package's public functions (``wrap_layers``); nothing inside the package
changes. Each span has a name, a layer, start and end (perf counter and
epoch), its parent span and the operation id shared by every span of one
operation. Spark-side numbers come from the event log, grouped by the
``spark.jobGroup.id`` each operation phase sets.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    """In-memory span recorder. ``enabled`` is flipped per pass, so the
    untraced passes of a traced run pay only the ``if`` checks."""

    def __init__(self, spark_context=None) -> None:
        self.sc = spark_context
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id: str | None = None

    @contextmanager
    def span(self, layer: str, name: str):
        if not self.enabled:
            yield
            return
        rec = {
            "id": len(self.spans),
            "layer": layer,
            "name": name,
            "op": self.op_id,
            "parent": self._stack[-1] if self._stack else None,
            "t0": time.perf_counter(),
            "wall0": time.time(),
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            self._stack.pop()
            rec["t1"] = time.perf_counter()
            rec["wall1"] = time.time()

    def job_group(self, group: str) -> None:
        if self.enabled and self.sc is not None:
            self.sc.setJobGroup(group, group)

    def self_times(self) -> None:
        """Self time of a span = its duration minus its children's."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["t1"] - s["t0"]
        for s in self.spans:
            s["self_s"] = (s["t1"] - s["t0"]) - child[s["id"]]


def wrap_layers(tracer: Tracer) -> None:
    """Put a span around the public entry points of the layers ROADMAP
    names. Functions bound by ``from x import f`` elsewhere in the package
    are replaced in every module that bound them."""
    import sys

    from airflow_dags_spark.operators import ann_store, upsert

    def wrapped(layer, name, fn):
        @functools.wraps(fn)
        def inner(*a, **kw):
            with tracer.span(layer, name):
                return fn(*a, **kw)

        inner.__perfbench_wrapped__ = True
        return inner

    for cls in (ann_store.IvfIndexStore, ann_store.PqCodebookStore):
        for meth in (
            "init_from", "add_batch", "maybe_refit", "centroids_matrix", "centroids",
            "codebooks", "state", "current_version", "drift_since_fit", "last_fit_version",
        ):
            if hasattr(cls, meth) and not getattr(getattr(cls, meth), "__perfbench_wrapped__", False):
                setattr(cls, meth, wrapped("store", f"{cls.__name__}.{meth}", getattr(cls, meth)))
    for meth in ("insert_if_absent", "merge_upsert", "advance_watermark"):
        fn = getattr(upsert.ParquetTable, meth)
        if not getattr(fn, "__perfbench_wrapped__", False):
            setattr(upsert.ParquetTable, meth, wrapped("upsert", meth, fn))
    from airflow_dags_spark.sources import csv as csv_src
    from airflow_dags_spark.sources import tables

    for mod, attr in ((tables, "read_table"), (csv_src, "read_headerless_csv")):
        original = getattr(mod, attr)
        if getattr(original, "__perfbench_wrapped__", False):
            continue
        replacement = wrapped("sources", attr, original)
        for m in list(sys.modules.values()):
            if getattr(m, "__name__", "").startswith("airflow_dags_spark") and getattr(m, attr, None) is original:
                setattr(m, attr, replacement)


# -- Spark event log -----------------------------------------------------------

PY_ACCUMS = {
    "time to run Python workers": "python.run_ms",
    "time to start Python workers": "python.start_ms",
    "time to initialize Python workers": "python.init_ms",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_returned",
}


def read_event_log(log_dir: str) -> tuple[dict, list[dict]]:
    """Parse every uncompressed event log under ``log_dir``. Returns
    per-job-group totals and the list of jobs (id, group, submission time
    in epoch seconds, stage count)."""
    groups: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    jobs: list[dict] = []
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        stage_group: dict[int, str] = {}
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
                    jobs.append(
                        {
                            "job": ev["Job ID"],
                            "group": group,
                            "submitted": ev["Submission Time"] / 1000.0,
                        }
                    )
                    g = groups[group]
                    g["jobs"] += 1
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    group = stage_group.get(info["Stage ID"], "")
                    if info.get("Number of Tasks") and info.get("Submission Time"):
                        groups[group]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev["Stage ID"], "")
                    g = groups[group]
                    m = ev.get("Task Metrics") or {}
                    g["tasks"] += 1
                    g["task_run_ms"] += m.get("Executor Run Time", 0)
                    g["gc_ms"] += m.get("JVM GC Time", 0)
                    inp = m.get("Input Metrics") or {}
                    g["bytes_read"] += inp.get("Bytes Read", 0)
                    g["records_read"] += inp.get("Records Read", 0)
                    if inp.get("Records Read", 0):
                        g["scan_tasks"] += 1
                    out = m.get("Output Metrics") or {}
                    g["records_written"] += out.get("Records Written", 0)
                    sr = m.get("Shuffle Read Metrics") or {}
                    g["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    g["fetch_wait_ms"] += sr.get("Fetch Wait Time", 0)
                    sw = m.get("Shuffle Write Metrics") or {}
                    g["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    g["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
                    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                        key = PY_ACCUMS.get(acc.get("Name"))
                        if key:
                            g[key] += float(acc.get("Update") or 0)
    return groups, jobs


# -- process tree memory --------------------------------------------------------


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def descendants(root: int) -> list[int]:
    children = defaultdict(list)
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    stat = fh.read()
                ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
                children[ppid].append(int(entry))
            except (OSError, ValueError):
                continue
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def running(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie (reaping our own)."""
    try:
        if os.waitpid(pid, os.WNOHANG)[0] == pid:
            return False
    except ChildProcessError:
        pass
    try:
        with open(f"/proc/{pid}/stat") as fh:
            stat = fh.read()
    except OSError:
        return False
    return stat[stat.rindex(")") + 2] != "Z"


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and every process under it
    (the JVM and its Python workers), counting the children each has
    reaped."""
    total = 0
    for pid in [os.getpid(), *descendants(os.getpid())]:
        try:
            with open(f"/proc/{pid}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        total += sum(int(x) for x in stat[stat.rindex(")") + 2 :].split()[11:15])
    return total / os.sysconf("SC_CLK_TCK")


def steal_s() -> float:
    """CPU time stolen from this (virtual) machine so far, all CPUs."""
    try:
        with open("/proc/stat") as fh:
            fields = fh.readline().split()
    except OSError:
        return 0.0
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def tree_rss_mb() -> float:
    """RSS of this process plus the peak RSS (VmHWM) of every process it
    started: the JVM and the Python workers under it."""
    me = os.getpid()
    kb = _status_kb(me, "VmRSS") + sum(_status_kb(p, "VmHWM") for p in descendants(me))
    return kb / 1024.0
