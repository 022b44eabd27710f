"""The one commit protocol behind every persisted table: the only code that
looks up a Hadoop ``FileSystem``, or renames or creates a path to commit.

Two shapes of state, two commits:

- **Plain-layout tables** (``ParquetTable``, ``maintenance.compact``, the
  CLI ``zorder``, the Bloom sidecar of screened ingest) keep plain parquet
  directly under ``<path>``, the layout ``tables.read_table``, DuckDB
  globs and Airflow consumers read. :func:`swap` writes the new data to a
  fresh ``<path>.<tag>-<uuid8>`` stage, renames the live dir to
  ``<path>.old-<uuid8>``, renames the stage to ``<path>`` and deletes the
  backup. Every swap first runs :func:`recover`, which settles a swap
  that crashed:

  - a ``<path>.old-*`` beside a live ``<path>`` is a finished swap's
    backup: it is deleted;
  - a ``<path>.old-*`` with no live ``<path>`` is the only copy left by a
    crash between the two renames: it is renamed back, which restores the
    old view.

  So at most one backup ever exists and recovery is never ambiguous. A
  crash leaves at most an orphan stage, which no reader sees and
  ``ParquetTable.vacuum_orphans`` removes.
- **Pointer-style state** (``VersionedParquetTable``'s manifest, the
  ``VersionedStore`` ledger) lives in a :class:`CommitLog` of numbered,
  write-once JSON entries; data dirs are staged under unique names and
  only an entry makes them visible.

Every mutating filesystem call goes through ``_put``, ``_rename`` or
``_delete``.
"""

from __future__ import annotations

import json
import re
import uuid
from typing import Callable

from py4j.protocol import Py4JJavaError
from pyspark.sql import SparkSession

STAGE_TAGS = ("stage", "compact", "zorder")


def hadoop_fs(spark: SparkSession, path: str):
    """``(jvm, fs)``: the JVM view and the Hadoop ``FileSystem`` of
    ``path``'s own scheme, so ``s3a://`` and ``hdfs://`` paths work on a
    ``file:`` default FS."""
    sc = spark.sparkContext
    jvm = sc._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)  # type: ignore[union-attr]
    return jvm, hpath.getFileSystem(sc._jsc.hadoopConfiguration())  # type: ignore[union-attr]


def _token() -> str:
    return uuid.uuid4().hex[:8]


# -- the three mutating calls --------------------------------------------------


def _put(spark: SparkSession, path: str, data: bytes) -> None:
    """Create the file ``path`` if absent, never visible half-written: write
    a hidden temp file beside it, then rename it with
    ``FileContext.rename(..., Options.Rename.NONE)`` (Delta's
    HDFSLogStore). ``FileExistsError`` when ``path`` exists."""
    jvm, fs = hadoop_fs(spark, path)
    hfs = jvm.org.apache.hadoop.fs
    head, name = path.rsplit("/", 1)
    tmp = hfs.Path(f"{head}/.{name}.{_token()}.tmp")
    out = fs.create(tmp, False)
    try:
        out.write(data)
    finally:
        out.close()
    ctx = hfs.FileContext.getFileContext(fs.getUri(), fs.getConf())
    opts = spark.sparkContext._gateway.new_array(hfs.Options.Rename, 1)  # type: ignore[union-attr]
    opts[0] = hfs.Options.Rename.NONE
    try:
        ctx.rename(fs.makeQualified(tmp), fs.makeQualified(hfs.Path(path)), opts)
    except Py4JJavaError as e:
        fs.delete(tmp, False)
        if e.java_exception.getClass().getName() == "org.apache.hadoop.fs.FileAlreadyExistsException":
            raise FileExistsError(f"{path} already exists") from None
        raise


def _rename(spark: SparkSession, src: str, dst: str) -> None:
    """Rename that never replaces: ``FileExistsError`` when ``dst``
    exists, since ``FileSystem.rename`` onto an existing dir would move
    ``src`` INTO it. (Check-then-rename: the swaps are single-writer.)"""
    jvm, fs = hadoop_fs(spark, src)
    hpath = jvm.org.apache.hadoop.fs.Path
    if fs.exists(hpath(dst)):
        raise FileExistsError(f"{dst} already exists")
    if not fs.rename(hpath(src), hpath(dst)):
        raise OSError(f"rename of {src} to {dst} failed")


def _delete(spark: SparkSession, path: str) -> None:
    jvm, fs = hadoop_fs(spark, path)
    fs.delete(jvm.org.apache.hadoop.fs.Path(path), True)


def remove(spark: SparkSession, path: str) -> None:
    """Delete ``path`` recursively; a missing path is a no-op."""
    _delete(spark, path)


# -- plain-layout tables: recovering stage-and-swap ----------------------------


def siblings(spark: SparkSession, path: str, tags) -> list[str]:
    """The ``<path>.<tag>-*`` dirs beside ``path``, for each tag."""
    jvm, fs = hadoop_fs(spark, path)
    found = fs.globStatus(jvm.org.apache.hadoop.fs.Path(f"{path}.{{{','.join(tags)}}}-*"))
    return sorted(st.getPath().toString() for st in found or [])


def recover(spark: SparkSession, path: str) -> list[str]:
    """Settle a crashed swap of ``path`` (module doc): delete a finished
    swap's backup, or restore the only copy when the live dir is missing.
    Returns the names of the backups it deleted or restored."""
    backups = siblings(spark, path, ["old"])
    if not backups:
        return []
    jvm, fs = hadoop_fs(spark, path)
    if fs.exists(jvm.org.apache.hadoop.fs.Path(path)):
        for b in backups:
            _delete(spark, b)
    elif len(backups) == 1:
        _rename(spark, backups[0], path)
    else:
        raise RuntimeError(f"{path} is missing and has several backups: {backups}")
    return [b.rsplit("/", 1)[-1] for b in backups]


def exists(spark: SparkSession, path: str) -> bool:
    """Whether ``path`` is live, recovering a crashed swap first when it
    is missing — a live path costs one FS call."""
    jvm, fs = hadoop_fs(spark, path)
    return bool(fs.exists(jvm.org.apache.hadoop.fs.Path(path))) or bool(recover(spark, path))


def swap(
    spark: SparkSession, path: str, write: Callable[[str], None], tag: str = "stage"
) -> None:
    """Make what ``write(stage)`` writes to a fresh stage dir the content
    of ``path``: recover, stage, rename live → backup, rename stage →
    live, delete the backup. With no live ``path`` the second rename
    creates it, and raises if ``path`` appeared meanwhile. The stage is
    deleted when the swap fails before the stage is renamed in."""
    recover(spark, path)
    jvm, fs = hadoop_fs(spark, path)
    stage = f"{path}.{tag}-{_token()}"
    backup = f"{path}.old-{_token()}"
    try:
        write(stage)
        live = bool(fs.exists(jvm.org.apache.hadoop.fs.Path(path)))
        if live:
            _rename(spark, path, backup)
        _rename(spark, stage, path)
    except BaseException:
        _delete(spark, stage)
        raise
    if live:
        _delete(spark, backup)


# -- pointer-style state: the put-if-absent log --------------------------------


class CommitLog:
    """A numbered put-if-absent log: entries are ``<dir>/{n:020d}.json``,
    written once and never changed; readers take the highest ``n`` — the
    transaction log of Delta Lake (Armbrust et al., VLDB 2020).

    An entry is never visible half-written: it is written to a hidden temp
    name in ``<dir>``, then renamed to its number with
    ``FileContext.rename(..., Options.Rename.NONE)`` (Delta's
    HDFSLogStore). If the number already exists, the rename raises and
    :meth:`commit` raises ``FileExistsError``: a second writer that picked
    the same ``n`` loses. What that guarantees depends on the filesystem:

    - HDFS: the rename is atomic, so of two racing writers exactly one
      commits ``n``;
    - local: the rename checks, then renames, so a sequential conflict is
      detected but a true race is not excluded;
    - S3 (s3a): rename is a copy, so exclusion needs conditional writes
      (put-if-absent), which this log does not use.

    Reads are Spark-job-free: one listing, plus one read of each entry
    this instance has not read yet (entries never change, so they are
    cached per instance). ``supersedes`` names the on-disk format this
    log replaced; when the log is empty and that path exists, reads raise
    ``ValueError``."""

    _ENTRY = re.compile(r"^(\d{20})\.json$")

    def __init__(self, spark: SparkSession, directory: str, *, supersedes: str) -> None:
        self.spark = spark
        self.dir = directory.rstrip("/")
        self._supersedes = supersedes
        self._read: dict[int, dict] = {}

    def _numbers(self) -> list[int]:
        jvm, fs = hadoop_fs(self.spark, self.dir)
        found = fs.globStatus(jvm.org.apache.hadoop.fs.Path(f"{self.dir}/*.json"))
        nums = sorted(
            int(m.group(1))
            for st in found or []
            if (m := self._ENTRY.match(st.getPath().getName()))
        )
        if not nums and fs.exists(jvm.org.apache.hadoop.fs.Path(self._supersedes)):
            raise ValueError(
                f"{self._supersedes} is an on-disk format this version no "
                f"longer reads (it keeps its commits in {self.dir}/)"
            )
        return nums

    def _entry(self, n: int) -> dict:
        if n not in self._read:
            jvm, fs = hadoop_fs(self.spark, self.dir)
            stream = fs.open(jvm.org.apache.hadoop.fs.Path(f"{self.dir}/{n:020d}.json"))
            try:
                # commons-io ships with Spark; py4j byte[] copy-back makes
                # manual buffered reads unreliable
                text = jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
            finally:
                stream.close()
            self._read[n] = json.loads(text)
        return self._read[n]

    def entries(self) -> list[dict]:
        """Every committed entry, in log order."""
        return [self._entry(n) for n in self._numbers()]

    def head(self) -> tuple[int, dict] | None:
        """``(n, entry)`` of the highest entry; None for an empty log."""
        nums = self._numbers()
        return (nums[-1], self._entry(nums[-1])) if nums else None

    def commit(self, n: int, entry: dict) -> None:
        """Put entry ``n`` if absent — the commit point. Raises
        ``FileExistsError`` when ``n`` is already committed."""
        text = json.dumps(entry, indent=1)
        try:
            _put(self.spark, f"{self.dir}/{n:020d}.json", text.encode("utf-8"))
        except FileExistsError:
            raise FileExistsError(
                f"{self.dir}: entry {n} was committed by another writer"
            ) from None
        self._read[n] = json.loads(text)
