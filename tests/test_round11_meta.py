"""Round-11 meta-dashboard robustness: the corrupt-sidecar tolerance path
must behave IDENTICALLY on both engines — Spark's PERMISSIVE/null-on-corrupt
reads vs the oracle's ignore_errors/TRY_CAST — exercised against scratch
sidecar directories with the exact builders the registered queries use."""

from __future__ import annotations

import json

import duckdb

from airflow_dags_spark.plans.round11 import (
    _bench_trend_frame,
    _bench_trend_oracle,
    _correctness_rounds_frame,
    _correctness_rounds_oracle,
)
from tests.oracle_utils import compare


def _write_bench(d, rnd, queries):
    (d / f"BENCH_r{rnd:02d}.json").write_text(
        json.dumps({"rc": 0, "parsed": {"queries": queries}})
    )


def test_bench_trend_corrupt_and_null_rounds_drop_on_both_engines(
    spark, tmp_path
):
    _write_bench(tmp_path, 1, {"q1": 0.5, "q2": 1.0})
    _write_bench(tmp_path, 2, {"q1": 0.6, "q2": 2.0})
    # round 3: corrupt JSON (partial write / disk damage)
    (tmp_path / "BENCH_r03.json").write_text('{"rc": 0, "parsed": {trunc')
    # round 4: recorded absence (the real r4 truncation hole)
    (tmp_path / "BENCH_r04.json").write_text(json.dumps({"rc": 0, "parsed": None}))
    _write_bench(tmp_path, 5, {"q1": 0.9, "q2": 2.1})

    sql = _bench_trend_oracle(str(tmp_path), 7)
    oracle = duckdb.connect().execute(sql).fetchdf()
    df = _bench_trend_frame(spark, str(tmp_path), 7)
    assert not compare(df, oracle)
    # rounds 3 and 4 contribute nothing; round 5 has no predecessor (4 is
    # absent) so only round 2 survives the (round-1) self-join
    rounds = {r["round"] for r in df.collect()}
    assert rounds == {2}
    # the flag rule fires on q2 (2x and +1.0 s), not q1 (+0.1 s)
    flags = {r["query"]: r["flagged"] for r in df.collect()}
    assert flags == {"q1": False, "q2": True}


def test_correctness_rounds_corrupt_file_drops_on_both_engines(
    spark, tmp_path
):
    (tmp_path / "CORRECTNESS_r01.json").write_text(
        json.dumps(
            {
                "a": {"hash_match": True, "err": None},
                "b": {"hash_match": None, "err": "no_oracle"},
                "c": {"hash_match": False, "err": "boom"},
            }
        )
    )
    (tmp_path / "CORRECTNESS_r02.json").write_text("{corrupt json")

    sql = _correctness_rounds_oracle(str(tmp_path), 7)
    oracle = duckdb.connect().execute(sql).fetchdf()
    df = _correctness_rounds_frame(spark, str(tmp_path), 7)
    assert not compare(df, oracle)
    rows = {r["round"]: r for r in df.collect()}
    assert set(rows) == {1}  # the corrupt round contributes zero rows
    assert rows[1]["n_checked"] == 3
    assert rows[1]["n_hash_match"] == 1
    assert rows[1]["n_rows_only"] == 1
    assert rows[1]["n_err"] == 1


def test_pin_hides_rounds_above_it_on_both_engines(spark, tmp_path):
    """Files the driver writes mid-session land ABOVE the import-time pin
    and must be invisible to both engines — the race-free property."""
    _write_bench(tmp_path, 1, {"q1": 0.5})
    _write_bench(tmp_path, 2, {"q1": 0.6})
    _write_bench(tmp_path, 9, {"q1": 9.9})  # "current round", mid-session

    sql = _bench_trend_oracle(str(tmp_path), 2)
    oracle = duckdb.connect().execute(sql).fetchdf()
    df = _bench_trend_frame(spark, str(tmp_path), 2)
    assert not compare(df, oracle)
    assert {r["round"] for r in df.collect()} == {2}


def test_bench_trend_ratio_rounds_like_duckdb(spark, tmp_path):
    """0.41 / 0.4 is the double 1.02499999999999991…: DuckDB's ROUND(x, 2)
    gives 1.02, and Spark's round(x, 2) (half-up on the shortest decimal
    string "1.025") gave 1.03. The engine must give the oracle's rows."""
    _write_bench(tmp_path, 1, {"q1": 0.4})
    _write_bench(tmp_path, 2, {"q1": 0.41})

    sql = _bench_trend_oracle(str(tmp_path), 2)
    oracle = duckdb.connect().execute(sql).fetchdf()
    df = _bench_trend_frame(spark, str(tmp_path), 2)
    assert not compare(df, oracle)
    got = [tuple(r) for r in df.collect()]
    want = [tuple(r) for r in oracle.itertuples(index=False)]
    assert got == want
    assert got[0][4] == 1.02


def test_compute_meta_max_round_requires_both_sidecar_kinds(tmp_path):
    """The pin is the highest round with BOTH sidecars parseable, floor 7:
    corrupt BENCH files must pull a round OUT of the intersection even
    when its CORRECTNESS file parses — and an all-corrupt kind must drop
    to the floor, not fall through to the other kind's set."""
    from airflow_dags_spark.plans.round11 import _compute_meta_max_round

    def w(name, content):
        (tmp_path / name).write_text(content)

    # both kinds parse through round 8; round 9 has a corrupt BENCH
    for r in (8, 9):
        w(f"CORRECTNESS_r{r:02d}.json", json.dumps({"q": {"hash_match": True}}))
    w("BENCH_r08.json", json.dumps({"rc": 0, "parsed": None}))
    w("BENCH_r09.json", '{"rc": 0, "parsed": {trunc')
    assert _compute_meta_max_round(str(tmp_path)) == 8

    # every BENCH corrupt → empty intersection → the floor, even though
    # CORRECTNESS parses to round 9 (the empty-set-as-sentinel bug)
    w("BENCH_r08.json", "{corrupt")
    assert _compute_meta_max_round(str(tmp_path)) == 7

    # empty directory → floor
    import tempfile

    assert _compute_meta_max_round(tempfile.mkdtemp()) == 7
