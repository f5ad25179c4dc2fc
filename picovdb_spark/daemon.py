"""Spark's Python worker daemon, with per-task import-cache refresh made cheap.

Before every task a PySpark worker calls `importlib.invalidate_caches()`
(`pyspark.worker_util.setup_spark_files`). Before CPython 3.12 that makes
every cached `zipimporter` re-read its archive's whole directory, and a
worker holds one importer per `pyspark.zip` subpackage it has imported:
14-16 re-reads of a 1,328-entry directory, 0.14-0.23 s per task on a
4-core VM. Here an archive is re-read only when its (mtime, size)
changed since this process last read it, so imports still see a
rewritten archive.

`get_spark` starts Spark's daemon through this module
(`spark.python.daemon.module`); workers fork from it with the fix in
place. Nothing here may write to stdout: the daemon reports its port
there.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport


def _stamp(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def patch_zipimport() -> None:
    """Make `zipimporter.invalidate_caches` skip archives unchanged since
    this process read them. No-op on Python >= 3.12, whose importers
    re-read lazily, and when already applied."""
    if sys.version_info >= (3, 12) or zipimport._read_directory.__name__ == "_stamped_read":
        return
    read_directory = zipimport._read_directory
    stock_invalidate = zipimport.zipimporter.invalidate_caches
    # archive path -> (st_mtime_ns, st_size) when this process last read it
    read_stamps: dict[str, tuple[int, int]] = {}

    def _stamped_read(archive):
        stamp = _stamp(archive)  # before the read: never newer than the contents
        files = read_directory(archive)
        if stamp is not None:
            read_stamps[archive] = stamp
        return files

    def invalidate_caches(self):
        files = zipimport._zip_directory_cache.get(self.archive)
        stamp = read_stamps.get(self.archive)
        if files is not None and stamp is not None and stamp == _stamp(self.archive):
            self._files = files
        else:
            stock_invalidate(self)

    zipimport._read_directory = _stamped_read
    zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    patch_zipimport()
    # stamp the archives read before the patch, once here rather than
    # once in every forked worker
    importlib.invalidate_caches()
    from pyspark.daemon import manager

    manager()
