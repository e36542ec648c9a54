"""Keep zipimport directories while their archive is unchanged.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``setup_spark_files`` in ``pyspark/worker_util.py``). On
CPython 3.10-3.12 ``zipimport.zipimporter.invalidate_caches`` then
re-reads the archive's whole central directory, once per importer, and a
worker holds one importer per package it imported from ``pyspark.zip``
(1,328 entries): on CPython 3.11 a profiled task spent 0.515 s of its
0.530 s in 16 such reads (NOTES.md, "Python task start: zipimport
re-reads"). CPython 3.13 only drops the cache entry there, so nothing
is patched on 3.13+.

`install` wraps the method. While an archive's ``(st_mtime_ns, st_size,
st_ino)`` equals the stamp taken before its last read in this process,
an importer re-points at the shared `zipimport._zip_directory_cache`
entry and reads nothing. A first-seen or changed archive, or one that
cannot be stat-ed, goes through the stdlib method: one real read, which
every other importer of that archive then shares.

The package imports this module first, so every Python worker that runs
lakota code installs it — task workers and the data-source planner
workers alike — and with PySpark's worker reuse only the first task of
each worker process pays the read.
"""

from __future__ import annotations

import os
import sys
import zipimport

reads = 0  # real (stdlib) directory reads through the wrapper; diagnostic
_stamps: dict = {}  # archive path -> (st_mtime_ns, st_size, st_ino)


def installed() -> bool:
    return hasattr(zipimport.zipimporter.invalidate_caches, "_stdlib")


def install() -> None:
    """Wrap ``zipimporter.invalidate_caches``; idempotent, and a no-op
    outside CPython 3.10-3.12 (3.13+ no longer re-reads)."""
    if not (3, 10) <= sys.version_info < (3, 13) or installed():
        return
    stdlib = zipimport.zipimporter.invalidate_caches

    def invalidate_caches(self):
        global reads
        try:
            st = os.stat(self.archive)
            stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
        except OSError:
            stamp = None  # never matches: the stdlib method decides
        files = zipimport._zip_directory_cache.get(self.archive)
        if stamp and files is not None and _stamps.get(self.archive) == stamp:
            self._files = files
            return
        reads += 1
        stdlib(self)
        _stamps[self.archive] = stamp

    invalidate_caches._stdlib = stdlib
    zipimport.zipimporter.invalidate_caches = invalidate_caches


def worker_report(batches):
    """``mapInArrow`` body (schema ``pid long, installed boolean, reads
    long``): one row per task with this worker's pid, whether the wrapper
    is installed, and its real-read count after one more
    ``importlib.invalidate_caches()`` — so the count already includes
    this process's first read of every archive, and a reused worker's
    next task start must leave it unchanged."""
    import importlib

    import pyarrow as pa

    for _ in batches:
        pass
    importlib.invalidate_caches()
    yield pa.RecordBatch.from_pydict(
        {"pid": [os.getpid()], "installed": [installed()], "reads": [reads]}
    )
