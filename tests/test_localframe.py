"""tiny_df's flat-schema guard."""

from __future__ import annotations

import pytest

from airflow_dags_spark.functions.localframe import tiny_df


def test_tiny_df_builds_flat_and_array_columns(spark):
    df = tiny_df(spark, [(1, [1.0, 2.0], [[3]])], "k int, v array<double>, n array<array<int>>")
    assert [tuple(r) for r in df.collect()] == [(1, [1.0, 2.0], [[3]])]


@pytest.mark.parametrize(
    "ddl",
    [
        "s struct<a:int>",
        "m map<string,int>",
        "xs array<struct<a:int>>",
        "xs array<array<map<string,int>>>",
    ],
)
def test_tiny_df_rejects_nested_struct_and_map_up_front(spark, ddl):
    with pytest.raises(TypeError, match="flat schemas only"):
        tiny_df(spark, [], ddl)

