"""Python worker daemon for local masters: ``pyspark.daemon`` with a
stat-checked zip-import cache.

Before every task, ``pyspark.worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()``. Below Python 3.13 that makes every
``zipimport.zipimporter`` re-read its archive's whole central
directory, once per importer: a warm worker holds a dozen importers on
``pyspark.zip`` (1 328 entries) and two on the spark-core jar (5 359
entries, ~33 ms a read), so each task pays 0.1-0.25 s of worker CPU
before it starts, whatever it computes. Every Arrow and grouped-map
stage pays it once per task.

Imported under Python < 3.13, this module replaces
``zipimporter.invalidate_caches`` with :func:`invalidate_caches`, which
re-reads an archive only when its ``(st_mtime_ns, st_size, st_ino)``
changed since the last read and otherwise reuses the directory read
then; every importer on one archive shares that read. The inode is in
the stamp so that a zip published by ``os.replace`` (as
``session.ship_package`` does) is picked up even within one mtime tick.
Python 3.13 made the stock method lazy, so there the module changes
nothing.

Run as ``python -m football_etl_spark.worker_daemon`` (Spark's
``spark.python.daemon.module``, which ``session.get_spark`` sets for
local masters), it installs the patch and hands over to
``pyspark.daemon.manager()``; every Python worker forks from the
daemon and inherits the patch.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport

_stock_invalidate = zipimport.zipimporter.invalidate_caches

# archive path -> (stat stamp, directory) as of its last read
_read: dict[str, tuple[tuple[int, int, int], dict]] = {}


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """Reload the archive's directory if the archive changed on disk
    since it was last read; otherwise reuse that read."""
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
    except OSError:
        stamp = None
    last = _read.get(self.archive)
    if stamp is not None and last is not None and last[0] == stamp:
        self._files = zipimport._zip_directory_cache[self.archive] = last[1]
        return
    # stat before the read: an archive changed in between keeps the
    # older stamp, so the next call reads it again
    _stock_invalidate(self)
    if stamp is None:
        _read.pop(self.archive, None)
    else:
        _read[self.archive] = (stamp, self._files)


if __name__ == "__main__":
    # Under -m this file runs as __main__; the patch is installed by
    # importing it under its package name, the one tasks see.
    import football_etl_spark.worker_daemon  # noqa: F401
    from pyspark.daemon import manager

    # Stamp every archive once before the first fork, so no worker's
    # first task reads one either.
    importlib.invalidate_caches()
    manager()
elif sys.version_info < (3, 13):
    zipimport.zipimporter.invalidate_caches = invalidate_caches
