"""PySpark's worker daemon, with zip directories kept while unchanged.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``pyspark.worker_util.setup_spark_files``). On CPython 3.11
every ``zipimport.zipimporter`` on ``sys.path`` then re-reads its
archive's whole central directory in pure Python: about 0.12 CPU-s per
task for the importers over ``pyspark.zip`` and the spark-core jar.
This module re-reads an archive only when its ``(st_ino, st_size,
st_mtime_ns)`` changed since the last read, then runs
``pyspark.daemon.manager()``. Workers fork from the daemon and inherit
both the patch and the directories it read.

``get_spark`` starts it with ``spark.python.daemon.module``; it must be
importable from the executors' ``PYTHONPATH`` before any task has run.
"""

from __future__ import annotations

import os
import zipimport

_stock_invalidate = zipimport.zipimporter.invalidate_caches
# archive path -> stat key of the file its last directory read came from
_read_at: dict[str, tuple[int, int, int] | None] = {}


def _stat_key(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_ino, st.st_size, st.st_mtime_ns


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches``, skipping the re-read of an
    archive whose file is the one its cached directory came from."""
    key = _stat_key(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if key is not None and files is not None and _read_at.get(self.archive) == key:
        self._files = files
        return
    _stock_invalidate(self)  # stat before read: a rewrite in between re-reads
    _read_at[self.archive] = key


if __name__ == "__main__":
    import importlib

    zipimport.zipimporter.invalidate_caches = invalidate_caches
    # read each archive once here, so forked workers inherit its stamp
    importlib.invalidate_caches()
    from pyspark import daemon

    daemon.manager()
