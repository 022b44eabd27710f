"""Full-registry profile sweep: the one runner over registered queries.

Profiles every registered query once (after ``profile.warm_up``) with
``functions/profile.py:profile_query`` at the given SF. Unlike bench.py
(median-of-5 over the 44 HEADLINE queries, the driver's contract), this
ranks where the other ~330 queries spend time and in which layer.

Usage: python scripts_sweep_timing.py [sf_dir] [--queries=a,b] [--explain=DIR/SUFFIX]

Flags take '=' forms only; an unrecognized '--' flag is an error.
``--explain=plans/r12/after`` also writes each query's formatted plan to
``plans/r12/<query>_after.txt``. SCALE.md "Shuffle-byte budgets" gives
the ``--queries=`` call behind its table.

Output: one summary line ``{"sf_dir", "total_s", "n", "errors"}``, then one
JSON record per query, costliest (``build_s + exec_s``) first:

- ``build_s``: seconds in the query function, where eager operator code
  runs its own jobs; ``exec_s``: seconds in the ``noop`` write of the
  returned DataFrame;
- per phase, prefixed ``build_`` or ``exec_``: ``jobs``, completed
  ``stages``, ``tasks``, executor ``run_ms``, scanned ``input_records``,
  ``shuffle_write_bytes``, ``shuffle_write_records``,
  ``shuffle_read_bytes`` and disk ``spill_bytes``;
- ``rows_out``: the root row count of the executed plan.

A query that raises leaves ``{"query", "error"}`` and the sweep goes on.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from airflow_dags_spark.functions.profile import explain_string, profile_query, warm_up
from airflow_dags_spark.plans import registry
from airflow_dags_spark.session import get_spark


def sweep(spark, sf_dir: str, names: list[str], explain: str | None = None) -> list[dict]:
    """One ``profile_query`` record per name, in order; a query that raises
    (or is not registered) gives ``{"query", "error"}`` instead."""
    out_dir, suffix = os.path.split(explain or "")
    records = []
    for name in names:
        built = []

        def build(s, d, name=name):
            built.append(registry.QUERIES[name](s, d))
            return built[-1]

        try:
            records.append(profile_query(spark, name, build, sf_dir))
        except Exception as ex:  # noqa: BLE001 — record and keep sweeping
            records.append({"query": name, "error": f"{type(ex).__name__}: {str(ex)[:120]}"})
        print(json.dumps(records[-1]), file=sys.stderr, flush=True)  # progress
        if explain and built:
            os.makedirs(out_dir or ".", exist_ok=True)
            with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as f:
                f.write(explain_string(built[0]))
    return records


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    sf_dir = args[0] if args else "/root/testdata/sf0.1"
    only: list[str] | None = None
    explain: str | None = None
    for a in sys.argv[1:]:
        if a.startswith("--queries="):
            only = a.split("=", 1)[1].split(",")
        elif a.startswith("--explain="):
            explain = a.split("=", 1)[1]
        elif a.startswith("--"):
            sys.exit(f"unrecognized flag {a!r}: use --queries=a,b / --explain=DIR/SUFFIX")
    registry.load_all()
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(
        app_name="spark-graft-sweep-timing",
        shuffle_partitions=int(cpus) if cpus.isdigit() else 64,
    )
    spark.sparkContext.setLogLevel("ERROR")
    warm_up(spark, sf_dir)
    records = sweep(spark, sf_dir, only or sorted(registry.QUERIES), explain)
    ok = sorted((r for r in records if "error" not in r), key=lambda r: -r["build_s"] - r["exec_s"])
    errors = {r["query"]: r["error"] for r in records if "error" in r}
    total = round(sum(r["build_s"] + r["exec_s"] for r in ok), 1)
    print(json.dumps({"sf_dir": sf_dir, "total_s": total, "n": len(ok), "errors": errors}))
    for r in ok + [r for r in records if "error" in r]:
        print(json.dumps(r))
    spark.stop()


if __name__ == "__main__":
    main()
