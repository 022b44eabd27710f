"""Scalar cleaning/predicate operators P4–P18 (SURVEY.md §2.3).

Every function here is a pure Column expression built from JVM builtins —
no Python UDFs — so the whole cleaning pipeline stays inside whole-stage
codegen and filters push down to the scan. Reference cites are where the
pandas/SQL original lives.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def strip_braces(col: Column | str) -> Column:
    """P4 — remove ``{``/``}`` from transaction ids.

    Reference: ``df[id].str.replace(r"[{}]", "", regex=True)``
    (dags/monthly_price_paid_data.py:121).
    """
    return F.regexp_replace(F.col(col) if isinstance(col, str) else col, r"[{}]", "")


def safe_date_yyyymmdd(col: Column | str) -> Column:
    """P5 — coercing date parse → yyyymmdd bigint, null on bad input.

    Reference: ``pd.to_datetime(errors='coerce').dt.strftime('%Y%m%d')``
    (dags/monthly_price_paid_data.py:122). ``to_timestamp`` is null-on-error
    with ANSI off, matching errors='coerce'.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.date_format(F.to_timestamp(c), "yyyyMMdd").cast("bigint")


def safe_numeric(col: Column | str) -> Column:
    """P6 — coercing numeric cast, null on bad input.

    Reference: ``pd.to_numeric(errors='coerce')``
    (dags/monthly_price_paid_data.py:123).
    """
    c = F.col(col) if isinstance(col, str) else col
    return c.try_cast("double")


def safe_bigint(col: Column | str) -> Column:
    """P15 — int parse with null fallback (dags/rightmove_outcodes.py:108-113)."""
    c = F.col(col) if isinstance(col, str) else col
    return c.try_cast("bigint")


def not_null(df: DataFrame, subset: list[str]) -> DataFrame:
    """P7 — multi-column NOT NULL filter.

    Reference: ``dropna(subset=[...])`` (dags/monthly_price_paid_data.py:126).
    Expressed as a conjunction so it pushes down to the scan.
    """
    return df.na.drop(subset=subset)


def prefix_filter(col: Column | str, prefix: str) -> Column:
    """P8 — string prefix predicate, null → filtered.

    Reference: ``postcode.str.startswith("OX", na=False)``
    (dags/monthly_price_paid_data.py:129). Spark's ``startswith`` is
    null-propagating, so nulls drop in a WHERE exactly like ``na=False``.
    """
    c = F.col(col) if isinstance(col, str) else col
    return c.startswith(prefix)


def null_or_stale(col: Column | str, threshold) -> Column:
    """P9 — ``key IS NULL OR key <= threshold`` work-selection predicate.

    Reference: stale-area selection (dags/pull_new_sales_list.py:97) and
    unresolved-outcode selection (dags/rightmove_outcodes.py:52).
    """
    c = F.col(col) if isinstance(col, str) else col
    return c.isNull() | (c <= F.lit(threshold))


def regex_capture(col: Column | str, pattern: str, group: int = 1) -> Column:
    """P11 — regex capture-group extraction, null when no match.

    Reference: ``re.search(r"/properties/(\\d+)", url).group(1)``
    (dags/pull_new_sales_list.py:132-134). ``regexp_extract`` returns ''
    on no-match; convert to null so downstream filters behave like the
    reference's None.
    """
    c = F.col(col) if isinstance(col, str) else col
    extracted = F.regexp_extract(c, pattern, group)
    return F.when(extracted != "", extracted)


def conditional_concat_url(href: Column | str, base: str) -> Column:
    """P14 — URL normalization: relative href → prepend base.

    Reference: dags/pull_new_sales_list.py:131.
    """
    c = F.col(href) if isinstance(href, str) else href
    return F.when(c.startswith("http"), c).otherwise(F.concat(F.lit(base), c))


def sentinel_mark(found: Column, value: Column, sentinel) -> Column:
    """P18 — no-match sentinel so a key is never retried.

    Reference: MARK_NO_MATCH_ID = -1 (dags/rightmove_outcodes.py:13,117-120).
    """
    return F.when(found, value).otherwise(F.lit(sentinel))


def clean_price_paid(df: DataFrame) -> DataFrame:
    """The reference's full clean pipeline P4→P5→P6→P7→P8 in one plan
    (dags/monthly_price_paid_data.py:121-129). One narrow stage, no shuffle;
    Catalyst collapses the projections and pushes the filters to the scan.
    """
    cleaned = (
        df.withColumn(
            "transaction_unique_identifier",
            strip_braces("transaction_unique_identifier"),
        )
        .withColumn("date_of_transfer", safe_date_yyyymmdd("date_of_transfer"))
        .withColumn("price", safe_numeric("price"))
    )
    cleaned = not_null(
        cleaned,
        ["transaction_unique_identifier", "date_of_transfer", "price", "postcode"],
    )
    return cleaned.where(prefix_filter("postcode", "OX"))
