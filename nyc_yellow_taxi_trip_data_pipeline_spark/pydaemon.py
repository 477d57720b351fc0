"""Python worker daemon for local masters: Spark's stock daemon, minus the
per-task re-read of every zip archive on ``sys.path``.

Spark starts its Python workers from one daemon that forks a child per
worker (``python -m pyspark.daemon``). Each task then runs
``pyspark.worker_util.setup_spark_files``, which ends with
``importlib.invalidate_caches()``. On CPython 3.11 and 3.12 that calls
``zipimport.zipimporter.invalidate_caches`` on every cached importer, and
each one re-reads its whole archive directory: ``pyspark.zip``, the py4j
zip and the ``spark-core`` jar, 26,672 entries over 16 importers, about
100-150 ms of a task on a 4 vCPU host. CPython 3.13 made the same call
lazy (it only drops the archive's cached directory).

This module backports that contract in its simplest form: an importer
re-reads its archive only when the archive's ``(st_mtime_ns, st_size)``
differs from the one it saw when it last read it, so a rewritten archive
is still re-read and ``invalidate_caches`` keeps its meaning. The
importers the daemon already holds are stamped before it forks, so no
worker pays even one re-read of an unchanged archive. On Python 3.13 and
later nothing is installed.

``session.get_spark`` selects the module through Spark's
``spark.python.daemon.module`` for local masters only; run as
``python -m``, it installs the gate and hands over to
``pyspark.daemon.manager``.
"""

from __future__ import annotations

import os
import sys
import zipimport

_stock_invalidate = zipimport.zipimporter.invalidate_caches


def _archive_stamp(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """Re-read the archive's directory only if the archive changed since
    this importer last read it (or cannot be stat'ed). The stamp is taken
    before the read, so a rewrite racing the read is seen next time."""
    stamp = _archive_stamp(self.archive)
    if stamp is None or stamp != getattr(self, "_read_stamp", None):
        _stock_invalidate(self)
        self._read_stamp = stamp


def install() -> None:
    """Gate ``zipimporter.invalidate_caches`` and stamp the importers that
    already exist; a no-op on Python 3.13 and later."""
    if sys.version_info >= (3, 13):
        return
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    for finder in sys.path_importer_cache.values():
        if isinstance(finder, zipimport.zipimporter):
            finder._read_stamp = _archive_stamp(finder.archive)


if __name__ == "__main__":
    # Install from the module under its package name, not from this
    # ``__main__`` copy, so the patched method names the engine module.
    from nyc_yellow_taxi_trip_data_pipeline_spark import pydaemon
    from pyspark.daemon import manager

    pydaemon.install()
    manager()
