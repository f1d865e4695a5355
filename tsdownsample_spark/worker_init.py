"""Per-task import-cache invalidation that skips unchanged zip archives.

A reused PySpark Python worker starts every task with
``pyspark.worker_util.setup_spark_files``, which ends in
``importlib.invalidate_caches()``.  On CPython before 3.12 that calls
``zipimport.zipimporter.invalidate_caches`` on every cached zipimporter, and
each call re-parses its archive's whole central directory — once per package
directory imported from ``pyspark.zip`` (~1300 entries), the py4j zip and the
engine's own shipped zip.  That re-parse, not any engine code, is most of a
small task's Python time (``pythonInitTime``).

``install()`` replaces the method, once per worker process, with one that
re-reads an archive only when its ``(st_ino, st_size, st_mtime_ns)`` differs
from when this process last read it, and otherwise points the importer at
the directory already in ``zipimport._zip_directory_cache``.  A changed,
unreadable or removed archive gets the stock behaviour.  The stamp is taken
before the read, so a rewrite racing the read is caught by the next call.

The package ``__init__`` calls ``install_on_worker()``: every engine UDF
closure imports the package when a worker unpickles it, so ``mapInArrow``,
``applyInPandas`` and pandas UDFs all get it.  It is a no-op on the driver
and never imports pyspark itself.  The first task on a freshly forked worker
still pays the stock cost, since the hook arrives with that task's closure.
"""

from __future__ import annotations

import os
import sys
import zipimport

__all__ = ["install", "install_on_worker", "installed"]

_stock_invalidate = zipimport.zipimporter.invalidate_caches
# archive path -> stat stamp taken just before this process last read it
_read_stamps: dict[str, tuple[int, int, int]] = {}


def _stamp(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_ino, st.st_size, st.st_mtime_ns)


def _invalidate_caches(self) -> None:
    """``zipimporter.invalidate_caches`` that skips unchanged archives."""
    archive = self.archive
    stamp = _stamp(archive)
    files = zipimport._zip_directory_cache.get(archive)
    if stamp is not None and files is not None and _read_stamps.get(archive) == stamp:
        self._files = files
        return
    _stock_invalidate(self)
    if stamp is not None and archive in zipimport._zip_directory_cache:
        _read_stamps[archive] = stamp
    else:
        _read_stamps.pop(archive, None)


def installed() -> bool:
    """Whether this process runs the stat-keyed invalidation."""
    return zipimport.zipimporter.invalidate_caches is _invalidate_caches


def install() -> None:
    """Install the stat-keyed invalidation in this process (idempotent).

    CPython 3.12+ already invalidates zip directories lazily, so there it
    does nothing.
    """
    if sys.version_info < (3, 12) and not installed():
        zipimport.zipimporter.invalidate_caches = _invalidate_caches


def install_on_worker() -> None:
    """``install()`` inside a PySpark Python worker; a no-op anywhere else."""
    spark_files = getattr(sys.modules.get("pyspark.core.files"), "SparkFiles", None)
    if getattr(spark_files, "_is_running_on_worker", False):
        install()
