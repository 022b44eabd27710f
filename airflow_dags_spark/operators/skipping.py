"""File-level data skipping (zone maps / manifest pruning).

Parquet already prunes ROW GROUPS from min/max footer stats, but at 100 TB
a scan still opens every footer of every file. Lakehouse formats fix this
with a file-level stats manifest (Delta add-file stats, Iceberg manifests);
this module is the plain-parquet equivalent:

- ``collect_file_stats``  — one pass building ``(file_path, n_rows,
  min_<col>, max_<col>, ...)`` via the ``_metadata`` hidden column: the
  zone-map table. One shuffle keyed by file path (|files| groups); persist
  it next to the table and maintain it incrementally on append.
- ``prune_files``         — the manifest query: which files can contain
  rows in ``[lo, hi]``. Runs on the stats table (|files| rows, KBs), never
  the data.
- ``read_with_skipping`` / ``point_lookup`` — scan only the files a
  ``stats`` zone map or a ``blooms`` index lets through, plus the
  residual predicate. The collect here is the FILE LIST — bounded by
  file count (thousands of rows at 100 TB), the same driver-side manifest
  read every table format performs when planning a scan.

An index is used only when it is passed in. Building one costs a full
pass with a shuffle and a collect, more than the one filtered scan it
would save, so it pays only when persisted and reused (Delta keeps its
skipping stats with the table for this reason). Without one, both reads
are the plain pushed-down filtered scan of the table root, opened with
``sources.tables.read_parquet`` (no schema-inference job).

Effectiveness is a layout property: combine with
``maintenance.zorder_layout`` (or a plain range-sort on the filter column)
so per-file bounding boxes are tight — the zorder clustering-quality test
measures exactly the volume this pruning exploits.

Reference parity: the reference leans on Postgres B-tree indexes for
selective reads (SURVEY §2.2 K7); partition pruning covers the coarse key
(`ParquetTable(partition_by=...)`), and this zone-map path covers
secondary, non-partition columns.
"""

from __future__ import annotations

from typing import Any, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from airflow_dags_spark.sources.tables import read_parquet


def collect_file_stats(
    spark: SparkSession, path: str | Sequence[str], cols: Sequence[str]
) -> DataFrame:
    """Zone-map table: per data file, row count + min/max of ``cols``.
    ``path`` may be a table directory or an explicit file list (the
    incremental-maintenance path)."""
    df = spark.read.parquet(*([path] if isinstance(path, str) else list(path)))
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in cols:
        aggs.append(F.min(c).alias(f"min_{c}"))
        aggs.append(F.max(c).alias(f"max_{c}"))
    return (
        df.select(F.col("_metadata.file_path").alias("file_path"), *cols)
        .groupBy("file_path")
        .agg(*aggs)
    )


def prune_files(
    stats: DataFrame, col: str, lo: Any = None, hi: Any = None
) -> list[str]:
    """Files whose [min, max] range intersects [lo, hi] (None = unbounded).

    NULL stats (all-null file for ``col``) are conservatively kept: min/max
    aggregates skip nulls, so an all-null file has NULL bounds and cannot
    prove non-overlap."""
    cond = F.lit(True)
    if lo is not None:
        cond = cond & (F.col(f"max_{col}").isNull() | (F.col(f"max_{col}") >= lo))
    if hi is not None:
        cond = cond & (F.col(f"min_{col}").isNull() | (F.col(f"min_{col}") <= hi))
    return [r["file_path"] for r in stats.where(cond).select("file_path").collect()]


def update_file_stats(
    spark: SparkSession,
    path: str,
    cols: Sequence[str],
    stats: DataFrame,
) -> DataFrame:
    """Incremental zone-map maintenance: stats for FILES NOT YET COVERED
    are computed and unioned onto the existing table — an append of N new
    files costs a scan of those N files, never the table. (Files are
    immutable once written — ParquetTable's swap discipline — so existing
    rows never go stale; vacuum/compact rewrites produce NEW paths which
    show up here, and dropped paths are pruned.) Persist the result next
    to the table; this is the manifest-update step every table format runs
    at commit time."""
    known = {r["file_path"] for r in stats.select("file_path").collect()}
    current = set(read_parquet(spark, path).inputFiles())
    new = sorted(current - known)
    kept = stats.where(F.col("file_path").isin(list(current)))
    if not new:
        return kept
    return kept.unionByName(collect_file_stats(spark, new, cols))


def collect_file_blooms(
    spark: SparkSession,
    path: str,
    col: str,
    m_bits: int = 1 << 14,
    k: int = 5,
) -> DataFrame:
    """Per-file Bloom index over ``col``: ``(file_path, word_idx, word)``.

    Zone maps answer RANGE predicates; point lookups on a high-cardinality
    non-layout column (needle-in-100TB: one doc_id, one order, one user)
    need value-level evidence. Delta/Iceberg record per-file Bloom filters
    for exactly this; here the index is a table of ≤ m/32 bit-words per
    file — one pass, one shuffle keyed by (file, word). A 16 Kbit filter
    is 64 longs/file: the whole index for 100k files is ~6M rows, a
    broadcastable planning table."""
    from airflow_dags_spark.functions.probabilistic import _h, _word_mask

    df = read_parquet(spark, path)
    c = F.col(col)
    pos = df.select(
        F.col("_metadata.file_path").alias("file_path"),
        F.explode(F.array(*[_h(c, i, m_bits) for i in range(k)])).alias("__h"),
    )
    word_idx, mask = _word_mask(F.col("__h"))
    return (
        pos.select("file_path", word_idx, mask)
        .groupBy("file_path", "word_idx")
        .agg(F.bit_or("mask").alias("word"))
    )


def prune_files_bloom(
    blooms: DataFrame,
    col: str,
    value: Any,
    m_bits: int = 1 << 14,
    k: int = 5,
) -> list[str]:
    """Files that MIGHT contain ``value`` (no false negatives: a file not
    returned definitely lacks it). Runs on the index table only.

    The k probe positions are LITERALS (same md5|salt recipe as the build
    side's ``_h``, computed driver-side — Spark casts the key to string
    before hashing, so ``str(value)`` must match that cast: int and string
    keys do; avoid float keys), so pruning is one aggregation over the
    index with constant predicates — no hashing job at all."""
    import hashlib

    probes = []
    for i in range(k):
        h = int(
            hashlib.md5(f"{i}|{value}".encode()).hexdigest()[:8], 16
        ) % m_bits
        probes.append((h // 32, 1 << (h % 32)))
    # a file survives iff EVERY probe bit is set in its filter
    flags = [
        F.max(
            (
                (F.col("word_idx") == w)
                & (F.col("word").bitwiseAND(F.lit(m)) != 0)
            ).cast("int")
        ).alias(f"__p{j}")
        for j, (w, m) in enumerate(probes)
    ]
    hits = blooms.groupBy("file_path").agg(*flags)
    cond = F.lit(True)
    for j in range(len(probes)):
        cond = cond & (F.col(f"__p{j}") == 1)
    return [r["file_path"] for r in hits.where(cond).select("file_path").collect()]


def _read_files(
    spark: SparkSession, path: str, files: list[str], schema: StructType
) -> DataFrame:
    """Read only ``files`` of the table at ``path``, with its root schema:
    ``basePath`` keeps the partition columns the directory names carry."""
    if not files:
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).option("basePath", path).parquet(*files)


def point_lookup(
    spark: SparkSession,
    path: str,
    col: str,
    value: Any,
    blooms: DataFrame | None = None,
    m_bits: int = 1 << 14,
    k: int = 5,
) -> DataFrame:
    """Exact point lookup. Without an index it is the one pushed-down
    filtered scan of the table (row-group min/max stats still skip row
    groups); with a persisted ``blooms`` index it opens only the
    Bloom-surviving files, and a false positive costs an extra file read.
    Either way the result has the root schema, partition columns included,
    and the residual equality filter keeps it exact."""
    table = read_parquet(spark, path)
    if blooms is not None:
        files = prune_files_bloom(blooms, col, value, m_bits, k)
        table = _read_files(spark, path, files, table.schema)
    return table.where(F.col(col) == value)


def read_with_skipping(
    spark: SparkSession,
    path: str,
    col: str,
    lo: Any = None,
    hi: Any = None,
    stats: DataFrame | None = None,
) -> DataFrame:
    """Range scan. With a persisted ``stats`` zone map it opens only the
    files the map cannot rule out, planning without touching data; without
    one it is the filtered scan of the table, whose pushed-down bounds
    still skip row groups. The result has the root schema either way."""
    table = read_parquet(spark, path)
    if stats is not None:
        table = _read_files(spark, path, prune_files(stats, col, lo, hi), table.schema)
    if lo is not None:
        table = table.where(F.col(col) >= lo)
    if hi is not None:
        table = table.where(F.col(col) <= hi)
    return table
