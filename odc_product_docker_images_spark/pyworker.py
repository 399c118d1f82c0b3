"""Python worker daemon for the engine's Arrow/pandas stages.

``session.get_spark`` points ``spark.python.daemon.module`` here.  Spark
starts this module once per worker pool; it forks one worker per Python
task slot and reuses them across tasks.

Every task calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``).  Before CPython 3.12 that
call makes every ``zipimporter`` on the path re-parse its archive's
central directory: ``pyspark.zip`` and its subpackage paths, the py4j zip
and the spark-core jar, a fixed CPU cost per task before the task reads
a row.  3.12 made the re-read lazy.  On older interpreters this module
replaces ``zipimporter.invalidate_caches`` with a guarded version that
re-reads only when the archive's ``(st_mtime_ns, st_size)`` differs from
the stamp taken at the importer's last read, so a changed zip is still
re-read.  The daemon then runs pyspark's own ``manager()`` unchanged, and
the forked workers inherit the guard.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def guarded(original):
    """``zipimporter.invalidate_caches`` that calls ``original`` only when
    the archive changed since this importer's last guarded read."""

    def invalidate_caches(self) -> None:
        stamp = _stamp(self.archive)
        if stamp is None or stamp != getattr(self, "_archive_stamp", None):
            original(self)
            self._archive_stamp = stamp

    return invalidate_caches


def install() -> None:
    """Guard ``zipimporter.invalidate_caches`` on interpreters that re-read
    eagerly (< 3.12); a no-op elsewhere."""
    if sys.version_info < (3, 12):
        zi = zipimport.zipimporter
        zi.invalidate_caches = guarded(zi.invalidate_caches)


if __name__ == "__main__":
    # under ``-m`` this file runs as ``__main__``: install through the
    # package module so the guard carries the module's import name
    from . import pyworker

    pyworker.install()
    from pyspark import daemon

    # one read per importer in the daemon records the stamps the forked
    # workers inherit, so a worker's first task re-reads nothing either
    importlib.invalidate_caches()
    daemon.manager()
