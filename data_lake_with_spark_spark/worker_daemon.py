"""The Python-worker daemon of engine-built local sessions.

Runs the stock ``pyspark.daemon`` with one change. PySpark's worker
calls ``importlib.invalidate_caches()`` at the start of every task
(``pyspark.worker_util.setup_spark_files``). On Python 3.11 that makes
every ``zipimporter`` in ``sys.path_importer_cache`` re-read its whole
archive directory, and ``pyspark.zip`` (1,328 entries) leaves about 16
of them there, one per package imported from it. Those re-reads were
most of a 1-row task's 200-290 ms round (4 vCPU). Here a zipimporter
skips the re-read when its archive's inode, size and mtime are those
stat'ed just before the archive's last read, and takes that read's
directory instead; a changed archive, or one that cannot be stat'ed,
goes through the stock call.
The patch is installed before ``pyspark.daemon`` is imported, so the
forked workers inherit it.

The worker module stays ``pyspark.worker``: Spark's daemon only runs
worker modules whose names start with ``pyspark``. ``session.get_spark``
selects this module through ``spark.python.daemon.module``, for local
masters only (a cluster worker has no copy of the driver's package
directory).

Run as ``python -m data_lake_with_spark_spark.worker_daemon pyspark.worker``.
"""

from __future__ import annotations

import importlib
import os
import zipimport

_stock_invalidate = zipimport.zipimporter.invalidate_caches

#: archive path -> (stat stamp before the last read, directory it read)
_last_read: dict[str, tuple[tuple[int, int, int], dict]] = {}


def _invalidate_caches(self) -> None:
    try:
        st = os.stat(self.archive)
    except OSError:
        _stock_invalidate(self)
        return
    stamp = (st.st_ino, st.st_size, st.st_mtime_ns)
    seen = _last_read.get(self.archive)
    if seen is not None and seen[0] == stamp:
        self._files = seen[1]
        return
    _stock_invalidate(self)
    # Stat taken before the read: an archive rewritten meanwhile reads
    # a new stamp next time and is read again.
    _last_read[self.archive] = (stamp, self._files)


def install() -> None:
    """Patch ``zipimporter.invalidate_caches`` and read each archive
    already on the path once, so the forked workers start with a
    recorded read of every archive."""
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
    importlib.invalidate_caches()


if __name__ == "__main__":
    # Patch from the importable module, not this ``__main__`` copy, so
    # a worker can see which daemon it runs under.
    from data_lake_with_spark_spark import worker_daemon

    worker_daemon.install()
    from pyspark import daemon

    daemon.manager()
