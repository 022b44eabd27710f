"""Column-level functions (SURVEY.md §2.3, §2.6)."""

from airflow_dags_spark.functions.cleaning import (
    strip_braces,
    safe_date_yyyymmdd,
    safe_numeric,
    not_null,
    prefix_filter,
    null_or_stale,
    conditional_concat_url,
)
from airflow_dags_spark.functions.json_extract import (
    extract_balanced_json,
    balanced_json_udf,
)
from airflow_dags_spark.functions.privacy import k_anonymize
from airflow_dags_spark.functions.quality import Expectations
from airflow_dags_spark.functions.sampling import (
    deterministic_sample,
    mixture_sample,
    stratified_sample,
)
from airflow_dags_spark.functions.skew import salted_agg, salted_join

__all__ = [
    "Expectations",
    "k_anonymize",
    "salted_agg",
    "salted_join",
    "strip_braces",
    "safe_date_yyyymmdd",
    "safe_numeric",
    "not_null",
    "prefix_filter",
    "null_or_stale",
    "conditional_concat_url",
    "extract_balanced_json",
    "balanced_json_udf",
    "deterministic_sample",
    "mixture_sample",
    "stratified_sample",
]
