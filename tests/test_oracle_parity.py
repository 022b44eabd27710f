"""The main correctness gate, run locally: every registered query with an
oracle must match DuckDB exactly at the test scale factor (the driver runs
the same comparison at sf0.01), and an oracle must return rows there, or
parity compares two empty results."""

from __future__ import annotations

import pytest

from airflow_dags_spark.plans import registry

from tests.oracle_utils import compare, duckdb_conn

registry.load_all()

ORACLE_QUERIES = sorted(registry.ORACLES.keys())
ROWS_ONLY_QUERIES = sorted(set(registry.QUERIES) - set(registry.ORACLES))

# Oracles that return 0 rows on the test data (sf0.001), each with the
# reason the data leaves it empty. Parity on these cannot catch a wrong
# answer. A listed query that starts returning rows must leave the list.
EMPTY_ORACLES = frozenset({
    # every customer has at least one order
    "join_anti_customers_without_orders",
    "q22_idle_customers",
    # every BUILDING customer has an order above 150000
    "set_except",
    # no o_totalprice lies outside the 1.5 IQR fences
    "outlier_iqr_gate",
    # no supplier is in NATION_9
    "q11_important_stock",
    # no supplier is in NATION_1 or NATION_2
    "q7_nation_volume",
    # no part has lines shipped in both 1994 and 1995
    "stats_bh_fdr",
    "stats_wilcoxon_signed_rank",
    # no user's last event is more than 7 days before the data ends: no churn
    "stats_kaplan_meier",
    "stats_nelson_aalen",
})


@pytest.fixture(scope="module")
def oracle(sf_dir):
    """``oracle(name)``: the DuckDB oracle's result, run once per module."""
    con = duckdb_conn(sf_dir)
    results = {}

    def run(name):
        if name not in results:
            results[name] = con.execute(registry.ORACLES[name]).fetchdf()
        return results[name]

    yield run
    con.close()


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_oracle_parity(spark, sf_dir, oracle, name):
    spark_df = registry.QUERIES[name](spark, sf_dir)
    problems = compare(spark_df, oracle(name))
    assert not problems, f"{name}: " + "; ".join(problems)


def test_oracles_return_rows(oracle):
    """DuckDB only: an oracle with 0 rows at the test SF fails unless it is
    on the ``EMPTY_ORACLES`` list, and a listed one that has rows fails."""
    empty = {name for name in ORACLE_QUERIES if oracle(name).empty}
    assert not empty - EMPTY_ORACLES, f"oracles with 0 rows: {sorted(empty - EMPTY_ORACLES)}"
    assert not EMPTY_ORACLES - empty, f"listed but return rows: {sorted(EMPTY_ORACLES - empty)}"


@pytest.mark.parametrize("name", ROWS_ONLY_QUERIES)
def test_rows_only_queries_run(spark, sf_dir, name):
    df = registry.QUERIES[name](spark, sf_dir)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0
