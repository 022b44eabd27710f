"""PySpark worker daemon that keeps zip-archive directories across tasks.

Selected by ``session.get_spark`` through ``spark.python.daemon.module``;
the JVM starts it as ``python -m airflow_dags_spark.worker_daemon`` and it
forks every Python worker, exactly like ``pyspark.daemon`` which it wraps.

Why it exists: each Python-UDF task runs ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). Before CPython 3.13 that makes
every ``zipimporter`` (one per package directory imported from an archive)
re-read its archive's whole central directory at once, so a reused worker
re-parses the 1.3k-entry ``pyspark.zip`` many times per task: a one-row
``mapInPandas`` job took 0.33-0.40 s with ``pyspark.daemon`` and 0.11-0.15 s
with this daemon (local[2] on a 4-vCPU VM, CPython 3.11).
CPython 3.13 made the invalidation lazy. This module backports that on
older interpreters and goes one step further: an archive is re-read only
when its mtime or size changed since it was read, so an archive shipped
again with ``addPyFile`` is still picked up. On 3.13+ it installs nothing.
"""

from __future__ import annotations

import os
import sys


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def install_lazy_zip_invalidation() -> bool:
    """Patch ``zipimport`` in this process; return whether it was patched."""
    if sys.version_info >= (3, 13):
        return False
    import zipimport

    cache = zipimport._zip_directory_cache
    read_directory = zipimport._read_directory
    # archive -> (mtime_ns, size) as of the read that filled the cache
    stamps = {path: _stamp(path) for path in cache}

    def _read_stamped(archive):
        stamp = _stamp(archive)
        files = read_directory(archive)
        stamps[archive] = stamp
        return files

    def _files(self):
        try:
            return cache[self.archive]
        except KeyError:
            try:
                files = cache[self.archive] = zipimport._read_directory(self.archive)
            except zipimport.ZipImportError:
                files = {}
            return files

    def invalidate_caches(self):
        if stamps.get(self.archive) != _stamp(self.archive):
            cache.pop(self.archive, None)

    # Every reader goes through the module-global _read_directory and the
    # _files attribute, so swapping both (a data descriptor shadows the
    # instance attribute that __init__ sets) makes the 3.11/3.12 importer
    # read the shared cache, refilled on demand after an invalidation.
    zipimport._read_directory = _read_stamped
    zipimport.zipimporter._files = property(_files, lambda self, value: None)
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    return True


def main() -> None:
    install_lazy_zip_invalidation()
    from pyspark.daemon import manager

    manager()


if __name__ == "__main__":
    main()
