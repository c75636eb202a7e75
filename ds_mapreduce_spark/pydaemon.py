"""PySpark worker daemon that re-reads an import zip only when it changed.

Spark starts it as ``python -m ds_mapreduce_spark.pydaemon`` (set by
``session.get_spark``). Every Python worker task begins with
``importlib.invalidate_caches()`` so that ``addPyFile`` archives become
importable, and before CPython 3.13 that makes each cached ``zipimporter``
re-read its archive's whole central directory: ~0.2 s of CPU per task for
the 1,328 entries of ``pyspark.zip``. ``install`` keeps that re-read for an
archive whose ``(st_mtime_ns, st_size)`` changed since its last read (or that
is missing) and skips it otherwise. It runs before the daemon forks, so every
worker inherits it; the daemon itself is the stock ``pyspark.daemon``.
"""

from __future__ import annotations

import os
import sys
import zipimport


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def install() -> None:
    if sys.version_info >= (3, 13):
        return  # 3.13+ only drops the cache entry; the re-read is lazy
    stock = zipimport.zipimporter.invalidate_caches
    stamps: dict[str, tuple[int, int] | None] = {}  # archive -> stamp at its last read

    def invalidate_caches(self) -> None:
        stamp = _stamp(self.archive)
        files = zipimport._zip_directory_cache.get(self.archive)
        if stamp is not None and files is not None and stamps.get(self.archive) == stamp:
            self._files = files
            return
        stock(self)
        stamps[self.archive] = stamp

    zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    import importlib

    install()
    importlib.invalidate_caches()  # read each archive once here, not once per forked worker
    from pyspark.daemon import manager

    manager()
