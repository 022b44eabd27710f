"""Arrow-backed construction of TINY driver-local DataFrames.

``spark.createDataFrame(<python list>)`` ships the rows through
``sc.parallelize`` — ``defaultParallelism`` pickled partitions, each
executed by a Python worker round-trip. For the engine's k×dim state
frames, one-row ledger commits and bucket-target frames that is pure
overhead: measured **4.5-5 s per job** on a cold local[32] session (32
Python worker spawns to move 16 rows) vs **~0.2 s** for the same rows
passed as a ``pyarrow.Table``, which becomes a JVM-local relation with no
Python execution at all — and, unlike the pandas fast path, does NOT
depend on ``spark.sql.execution.arrow.pyspark.enabled`` (the external
driver's plain session leaves it off).

Use for BOUNDED frames only (state rows, ledger rows, bucket targets —
things that must fit on the driver anyway); big data belongs in scans.

Limitations (ADVICE r10): supports FLAT schemas of primitive / array /
map-free fields only — ``pyarrow.array`` cannot build struct columns from
plain tuples, so struct/map fields raise up front and callers fall back to
``createDataFrame``. Row width is validated against the schema (a plain
``zip`` silently TRUNCATED wider rows, masking caller bugs in ledger and
state writes).
"""

from __future__ import annotations

from collections.abc import Iterable

import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import ArrayType, DataType, MapType, StructType


def tiny_df(
    spark: SparkSession,
    rows: Iterable[tuple],
    schema: str | StructType,
) -> DataFrame:
    """Local relation from driver-resident rows via Arrow (no Python
    workers at execution). ``rows`` are tuples matching ``schema`` (a DDL
    string or StructType); empty input yields an empty frame of the exact
    schema, same as ``createDataFrame([], schema)``.

    Raises ``ValueError`` on rows whose width differs from the schema's
    and ``TypeError`` on struct/map fields, also as the elements of
    (nested) arrays (flat schemas only) — both would otherwise fail
    silently or deep inside pyarrow."""
    st = StructType.fromDDL(schema) if isinstance(schema, str) else schema
    for f in st.fields:
        if _nests_struct_or_map(f.dataType):
            raise TypeError(
                f"tiny_df supports flat schemas only; field {f.name!r} is "
                f"{f.dataType.simpleString()} — use createDataFrame"
            )
    # to_arrow_schema lives under pyspark.sql.pandas.types (semi-private
    # but stable across 3.5/4.x; the public fromDDL above covers parsing)
    pa_schema = to_arrow_schema(st)
    rows = list(rows)
    n_fields = len(st.fields)
    for i, r in enumerate(rows):
        if len(r) != n_fields:
            raise ValueError(
                f"tiny_df row {i} has {len(r)} values for {n_fields} "
                f"schema fields — zip truncation would drop data"
            )
    cols = list(zip(*rows)) if rows else [[] for _ in st.fields]
    arrays = [
        pa.array(list(c), type=f.type) for c, f in zip(cols, pa_schema)
    ]
    return spark.createDataFrame(
        pa.Table.from_arrays(arrays, schema=pa_schema), schema=st
    )


def _nests_struct_or_map(dt: DataType) -> bool:
    while isinstance(dt, ArrayType):
        dt = dt.elementType
    return isinstance(dt, (StructType, MapType))
