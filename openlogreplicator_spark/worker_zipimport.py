"""Keep PySpark workers from re-reading ``pyspark.zip`` on every task.

A PySpark worker calls ``importlib.invalidate_caches()`` at the start of
every task (``pyspark.worker_util.setup_spark_files``). The worker
imports pyspark from ``$SPARK_HOME/python/lib/pyspark.zip`` (1,328
entries) through one ``zipimporter`` per package directory, 16 or more
of them, and before CPython 3.13 each importer's ``invalidate_caches``
re-reads the archive's whole central directory. Inside one worker on a
4-core box that was 0.20 s per task; with this module it is 0.09 ms.

CPython 3.13's ``Lib/zipimport.py`` made the invalidation lazy: it drops
the cached directory, and the importer re-reads it on its next lookup.
Older importers read their ``_files`` attribute directly, with no lazy
lookup to fall back on, so this backport keeps the directory instead
and re-reads it only when the archive's mtime or size changed since
this process last read it. A rewritten archive is therefore still seen,
and a module added to it still imports.

:func:`install` patches ``zipimport.zipimporter.invalidate_caches`` only
inside PySpark worker processes on CPython < 3.13; every other process
keeps the interpreter's own behaviour.
"""

from __future__ import annotations

import os
import sys
import zipimport

_reread_directory = zipimport.zipimporter.invalidate_caches
# archive path -> (mtime_ns, size) when this process last read it
_stamps: dict[str, tuple[int, int] | None] = {}


def _archive_stamp(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size)


def lazy_invalidate_caches(self) -> None:
    """``zipimporter.invalidate_caches`` that re-reads the archive's
    directory only when the archive changed since the last read."""
    stamp = _archive_stamp(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if (
        stamp is not None
        and files is not None
        and _stamps.get(self.archive) == stamp
    ):
        # another importer of the same archive may have re-read it into
        # a fresh dict: share that one
        self._files = files
        return
    _reread_directory(self)
    _stamps[self.archive] = stamp


def _on_pyspark_worker() -> bool:
    try:
        from pyspark.core.files import SparkFiles
    except ImportError:   # a Spark Connect-only client has no workers
        return False
    return SparkFiles._is_running_on_worker


def install() -> None:
    """Patch ``zipimporter.invalidate_caches`` when running in a PySpark
    worker on CPython < 3.13."""
    if sys.version_info < (3, 13) and _on_pyspark_worker():
        zipimport.zipimporter.invalidate_caches = lazy_invalidate_caches
