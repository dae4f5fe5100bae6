"""The engine's daemon for PySpark's Python workers
(``spark.python.daemon.module``, set by ``session.get_spark``).

PySpark forks every Python worker from one daemon process, and each task
starts with ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``) so that files added with
``addPyFile`` import. On CPython 3.11 that makes every
``zipimport.zipimporter`` on the worker's path re-parse its archive's whole
central directory in pure Python. A worker imports pyspark from
``pyspark.zip`` through 16 such importers, so each task paid 0.2-0.35 s
before its own code ran (CPython 3.13's ``invalidate_caches`` only drops
the cache entry).

This module makes an importer re-read its archive only when the archive's
``os.stat`` (mtime_ns, size, inode) differs from the one seen at its last
read, then runs PySpark's own daemon; forked workers inherit the wrapper.
A rewritten archive is still re-read, so ``addPyFile`` keeps working.
"""

from __future__ import annotations

import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches
_read_stats: dict[str, tuple[int, int, int]] = {}


def _stat(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size, st.st_ino


def invalidate_caches(self: zipimport.zipimporter) -> None:
    stat = _stat(self.archive)
    cached = zipimport._zip_directory_cache.get(self.archive)
    if stat is not None and cached is not None and _read_stats.get(self.archive) == stat:
        self._files = cached
        return
    _reread(self)
    if stat is not None:
        _read_stats[self.archive] = stat


def install() -> None:
    zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    install()
    from pyspark.daemon import manager

    manager()
