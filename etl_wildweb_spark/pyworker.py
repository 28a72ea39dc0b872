"""Python-worker set-up: zip importers keep their directory while their
archive is unchanged.

A reused PySpark Python worker starts every task in
``setup_spark_files`` (``pyspark/worker_util.py:144`` in PySpark 4.1),
which calls ``importlib.invalidate_caches()``.  On Python 3.11 that calls
``zipimport.zipimporter.invalidate_caches`` on every zip importer in
``sys.path_importer_cache``, and each call re-reads its archive's whole
central directory.  A warm worker of this engine holds 17 zip importers
over 4 archives: ``pyspark.zip`` (1,328 entries) 11 times, the
spark-core jar on ``PYTHONPATH`` (5,359 entries) twice, ``py4j`` twice
and the shipped package zip once.  That is about 25k entries parsed per
task: a 1-row ``mapInPandas`` task cost a reused worker a median 156 ms
of CPU with the re-reads and 36 ms without them (4-core VM), of which
its function body takes 1–2 ms.

:func:`keep_zip_directories` replaces that method, once per worker
process, with one that re-reads an archive only when the
``(st_mtime_ns, st_size, st_ino)`` of ``os.stat(archive)`` differs
from the key taken at that importer's last read; when ``stat`` fails it
calls the original method, which empties the importer.  Outside a
Python worker (no ``TaskContext``) it does nothing, so the driver
process keeps the interpreter's own behaviour.

Callers: the package ``__init__`` (a worker unpickling any by-reference
function imports it) and the first line of every entry point pickled by
value (``sinks``, ``sources.http``); this module is pickled by value
too, so planner-side workers never import the package.
"""

from __future__ import annotations

import os
import sys
import zipimport

#: Attribute of a zip importer: the stat key of its archive at its last
#: directory read.
_KEY = "_etl_wildweb_archive_key"


def _archive_key(archive: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size, st.st_ino


def _keeping(read_directory):
    """``zipimporter.invalidate_caches`` that calls ``read_directory``
    (the original method) only when the importer's archive changed
    since its last read, or cannot be stat'ed."""

    def invalidate_caches(self) -> None:
        key = _archive_key(self.archive)  # before the read: a write
        # racing the read leaves a new key for the next call
        if key is None or key != self.__dict__.get(_KEY):
            read_directory(self)
            self.__dict__[_KEY] = key

    invalidate_caches.keeps_zip_directories = True
    return invalidate_caches


def keep_zip_directories() -> None:
    """Install the gated ``zipimporter.invalidate_caches`` in this
    Python worker; idempotent, and a no-op outside a task.  The
    importers that exist now had their directory read by this task's
    ``setup_spark_files`` a moment ago, so their keys are taken now; an
    importer made later is read once, on its first invalidation."""
    from pyspark import TaskContext

    method = zipimport.zipimporter.invalidate_caches
    if TaskContext.get() is None or getattr(method, "keeps_zip_directories", False):
        return
    zipimport.zipimporter.invalidate_caches = _keeping(method)
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, zipimport.zipimporter):
            finder.__dict__[_KEY] = _archive_key(finder.archive)
