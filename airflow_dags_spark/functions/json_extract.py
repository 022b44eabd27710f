"""JSON extraction operators P12–P13 (SURVEY.md §2.3).

P13 (parse + nested access) is pure builtins (``from_json`` /
``get_json_object``). P12 — balanced-brace extraction of ``window.jsonModel
= {...}`` embedded in HTML — is the single genuinely custom scalar function
in the system (regex cannot balance braces): a vectorized pandas UDF so the
hot path stays Arrow-batched, not row-at-a-time.

Reference: hand-rolled scanner at dags/pull_new_sales_list.py:43-63; usage
dags/pull_new_sales_list.py:139-157.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import StringType


def extract_balanced_json(text: str | None, marker: str = "window.jsonModel") -> str | None:
    """Scan from ``marker``, find the first '{', track depth (string- and
    escape-aware, which the reference's scanner is not), return the balanced
    JSON substring or None."""
    if text is None:
        return None
    start = text.find(marker)
    if start == -1:
        return None
    brace = text.find("{", start)
    if brace == -1:
        return None
    depth = 0
    in_string = False
    escaped = False
    for i in range(brace, len(text)):
        ch = text[i]
        if in_string:
            if escaped:
                escaped = False
            elif ch == "\\":
                escaped = True
            elif ch == '"':
                in_string = False
            continue
        if ch == '"':
            in_string = True
        elif ch == "{":
            depth += 1
        elif ch == "}":
            depth -= 1
            if depth == 0:
                return text[brace : i + 1]
    return None  # unbalanced


@F.pandas_udf(StringType())
def balanced_json_udf(texts: pd.Series) -> pd.Series:
    """P12 as an Arrow-batched pandas UDF (10-100× over row-at-a-time)."""
    return texts.map(lambda t: extract_balanced_json(t))


def json_path(col: Column | str, path: str) -> Column:
    """P13 — ad-hoc JSON path access (dags/pull_new_sales_list.py:152-155).

    ``get_json_object`` is JVM-side; prefer ``from_json`` with a schema when
    several fields are read from the same document (single parse).
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.get_json_object(c, path)
