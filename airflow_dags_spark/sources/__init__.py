"""Scans / sources (SURVEY.md §2.1)."""

from airflow_dags_spark.sources.tables import read_table
from airflow_dags_spark.sources.csv import read_headerless_csv
from airflow_dags_spark.sources.jdbc import read_jdbc, write_jdbc
from airflow_dags_spark.sources.pricepaid_source import PricePaidDataSource
from airflow_dags_spark.sources.pricepaid_source import register as register_pricepaid_source

__all__ = [
    "read_table",
    "read_headerless_csv",
    "read_jdbc",
    "write_jdbc",
    "PricePaidDataSource",
    "register_pricepaid_source",
]
