"""The Python worker daemon: ``pyspark.daemon`` with a stamped zip cache.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``worker_util.setup_spark_files``).  On CPython 3.11 that
makes every cached ``zipimporter`` re-read its archive's central
directory, and a worker holds one per package it imported from
``pyspark.zip`` (14-16 of them), which sits first on every worker's
``PYTHONPATH``.  That re-read was most of a task's Python CPU.

``invalidate_caches`` below re-reads an archive only when its
``(st_mtime_ns, st_size)`` differs from the stamp taken before its last
read; a stat that fails falls back to the stock re-read.  Directory
finders are untouched, so a new ``pyFile``, a new archive on the path or
a rewritten archive imports as before.  ``get_spark`` names this module
in ``spark.python.daemon.module``; forked workers inherit the patch.
"""

from __future__ import annotations

import importlib
import os
import zipimport

_stock = zipimport.zipimporter.invalidate_caches
# archive path → (st_mtime_ns, st_size), taken before its last read
_stamps: dict[str, tuple[int, int]] = {}


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """Re-read ``self.archive`` only if it changed since its last read;
    otherwise point ``self`` at the directory that read cached."""
    try:
        st = os.stat(self.archive)
    except OSError:  # gone: the stock read drops its cached directory
        return _stock(self)
    stamp = (st.st_mtime_ns, st.st_size)
    files = zipimport._zip_directory_cache.get(self.archive)
    if files is None or _stamps.get(self.archive) != stamp:
        _stock(self)
        _stamps[self.archive] = stamp
    else:
        self._files = files


if __name__ == "__main__":
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    from pyspark.daemon import manager

    importlib.invalidate_caches()  # stamp the archives once, before any fork
    manager()
