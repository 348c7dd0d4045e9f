"""Stat-checked ``zipimporter.invalidate_caches`` for Python < 3.12.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``worker_util.setup_spark_files``). Under Python 3.11 that makes
every ``zipimporter`` in ``sys.path_importer_cache`` re-read its archive's
central directory, eagerly and in pure Python. A worker that imports pyspark
from ``$SPARK_HOME/python/lib/pyspark.zip`` holds 16 of them (12 over
pyspark.zip, 2 over the spark-core jar, 2 over py4j): over 100 ms of CPU
per task, outside the UDF, which no batch size amortises. CPython 3.12 made
the method lazy, so the stdlib is left alone there.

The replacement re-reads an archive only when its ``(st_ino, st_size,
st_mtime_ns)`` differs from the stat taken when its directory was last read,
so an archive rewritten in place (``addPyFile``) is still picked up. Under
``session.get_spark`` the worker daemon (``docling_gfcr_spark.daemon``)
imports the package, and with it this module, before it forks: workers
inherit the patched method and the stamps, and no task re-reads. Elsewhere
every package UDF pickles package functions by reference, so the package's
``__init__`` runs inside each Python worker during its first task's
``read_udfs``, right after that task's own ``invalidate_caches()`` read
every cached archive: installing stamps those archives, and from the
worker's second task on nothing is re-read. Do not drop the stamp or the
version gate: without the first every worker's second package task still
re-reads, without the second 3.12's lazy reads are replaced by eager ones.
"""

from __future__ import annotations

import os
import sys
import zipimport

_ORIGINAL_INVALIDATE = zipimport.zipimporter.invalidate_caches

#: archive path -> (st_ino, st_size, st_mtime_ns) taken just before the
#: directory now in ``zipimport._zip_directory_cache`` was read
_STAMPS: dict[str, tuple[int, int, int] | None] = {}


def _stat_stamp(archive: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_ino, st.st_size, st.st_mtime_ns


def _invalidate_caches(self) -> None:
    stamp = _stat_stamp(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None and _STAMPS.get(self.archive) == stamp:
        self._files = files
        return
    # stat before the read: an archive rewritten during the read gets a
    # newer stat than the one recorded, so the next call reads it again
    _ORIGINAL_INVALIDATE(self)
    _STAMPS[self.archive] = stamp


def _install() -> None:
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, zipimport.zipimporter):
            _STAMPS[finder.archive] = _stat_stamp(finder.archive)
    zipimport.zipimporter.invalidate_caches = _invalidate_caches


if sys.version_info < (3, 12):
    _install()
