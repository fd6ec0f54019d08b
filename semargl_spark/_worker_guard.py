"""Stop every PySpark task re-reading every zip on the worker's path.

PySpark ends each task's setup (``pyspark.worker_util.setup_spark_files``)
with ``importlib.invalidate_caches()``. On CPython 3.11 that makes every
``zipimport.zipimporter`` in ``sys.path_importer_cache`` re-read its
archive's whole central directory: ``pyspark.zip`` and its package
paths, the py4j zip, and the 5,359-entry spark-core jar, about 0.2 CPU-s
per task before the task touches any data.

The guard keeps what the re-read is for: an archive that changed is
re-read, so a zip rewritten on the worker is seen by the next task.
Every other call costs one ``stat``. The change test is the archive's
``(st_mtime_ns, st_size)`` against the value *this importer* recorded at
its own last re-read. It must be per importer, not per archive path: one
archive has several importers (the root and each package prefix of
``pyspark.zip``), each holding its own copy of the directory, so one
importer's re-read says nothing about another's. An importer the guard
has not yet seen re-reads once, since its directory may predate the
guard.

The package installs the guard when a Python worker first imports it
(``PYTHON_WORKER_FACTORY_SECRET`` is set by Spark in every worker's
environment). Every function the package ships imports it when the
worker unpickles it, and the class patch lasts for every later task of
that reused worker, in both the SQL/Arrow and the RDD worker pools.
"""

from __future__ import annotations

import os
import zipimport


def guarded(invalidate_caches):
    """``invalidate_caches`` behind the per-importer stat test."""

    def guard(self):
        try:
            st = os.stat(self.archive)
            seen = (st.st_mtime_ns, st.st_size)
        except OSError:
            seen = None  # let the original handle a missing archive
        if seen is not None and getattr(self, "_archive_stat", None) == seen:
            return
        # stat before reading: a rewrite during the read shows next time
        invalidate_caches(self)
        self._archive_stat = seen

    return guard


def installed() -> bool:
    return zipimport.zipimporter.invalidate_caches.__module__ == __name__


def install_in_worker() -> None:
    """Patch ``zipimporter`` once, in a PySpark Python worker only."""
    if "PYTHON_WORKER_FACTORY_SECRET" in os.environ and not installed():
        cls = zipimport.zipimporter
        cls.invalidate_caches = guarded(cls.invalidate_caches)
