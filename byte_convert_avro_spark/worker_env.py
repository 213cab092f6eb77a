"""Python-worker import environment: skip re-reading unchanged zip archives.

Spark's Python worker calls ``importlib.invalidate_caches()`` at the start of
every task.  Before CPython 3.13, ``zipimporter.invalidate_caches`` re-reads
its archive's whole central directory on each call, and a worker's
``sys.path_importer_cache`` holds zipimporters over spark-core's jar and
``pyspark.zip``: about 0.2 s of CPU per task in every reused worker.
:func:`install` makes that re-read conditional on the archive's
``(st_mtime_ns, st_size)`` having changed since this importer last read it.
CPython 3.13+ already defers the re-read, so there it changes nothing.
"""

from __future__ import annotations

import os
import sys
import zipimport

_stdlib_invalidate_caches = zipimport.zipimporter.invalidate_caches


def _invalidate_if_changed(self) -> None:
    try:
        st = os.stat(self.archive)
    except OSError:
        # the stdlib method handles a vanished archive; re-read once it is back
        self.__dict__.pop("_archive_stamp", None)
        return _stdlib_invalidate_caches(self)
    stamp = (st.st_mtime_ns, st.st_size)
    if self.__dict__.get("_archive_stamp") != stamp:
        _stdlib_invalidate_caches(self)
        self._archive_stamp = stamp


def install() -> None:
    """Patch ``zipimporter.invalidate_caches`` in this process (idempotent)."""
    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = _invalidate_if_changed
