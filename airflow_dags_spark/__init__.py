"""airflow_dags_spark — a PySpark-native analytics engine.

A brand-new, Spark-first implementation of the query and data-processing
capabilities of the reference repo ``vinkumdev/airflow-dags`` (an Airflow ELT
system: bulk/incremental CSV ingestion with clean/filter/upsert semantics,
API-driven dimension enrichment, rate-limited scraping with dedup and per-key
watermarks), extended with the LLM-data-pipeline operators (dedup, similarity
search, multimodal columns, text analysis) and designed for 100 TB scale.

Layout
------
- ``session``    : SparkSession factory with scale-oriented defaults (AQE,
                   adaptive skew join, Arrow).
- ``schemas``    : explicit StructTypes (never inferSchema).
- ``sources/``   : scans — parquet/CSV readers, rate-limited HTTP sources
                   with injectable fetch for offline tests.
- ``functions/`` : column-level helpers — safe casts, regex/JSON extraction,
                   deterministic sampling, text analysis, vector math.
- ``operators/`` : multi-row operators — upsert/merge library, dedup family,
                   similarity search, multimodal plumbing.
- ``plans/``     : named end-to-end queries (driver correctness surface) and
                   the four reference-equivalent ingestion pipelines.
- ``streaming/`` : Structured Streaming jobs — watermarked windows, one
                   redelivery dedup per time domain, one per-key state
                   skeleton, one AvailableNow foreachBatch sink starter.

Design rules (SURVEY.md §7): DataFrame-first, no custom Catalyst rules, no
RDDs, plain Parquet + engine-owned MERGE, explicit schemas, UTC everywhere.
"""

__version__ = "0.1.0"
