"""PySpark's Python worker daemon, minus the per-task re-read of zip imports.

Before every task a PySpark worker calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). The workers import
``pyspark`` and ``py4j`` from zip archives, and up to CPython 3.12
``zipimporter.invalidate_caches`` re-parses the archive's central
directory on every call, once for each zipimporter in
``sys.path_importer_cache`` (one per zipped package directory imported
so far): 16 reads per task, most of a ~0.3 s fixed cost per Python task
on a shared 4-core VM.

This module installs an ``invalidate_caches`` that re-reads an archive
only when its ``(st_mtime_ns, st_size)`` differs from the one the
importer last read, then runs ``pyspark.daemon.manager``. Workers are
forked from the daemon and inherit the patch. A changed or added archive
is still read, which is what ``invalidate_caches`` is for.

Spark starts it as ``python -m data_pipeline_rsna_spark.worker_daemon``
(``spark.python.daemon.module``, set in ``session.get_spark``). The
daemon starts before a task's ``--py-files`` are on ``sys.path``, so on a
cluster the package must be installed on the executors' Python path.
"""

from __future__ import annotations

import importlib
import os
import zipimport

_reread_archive = zipimport.zipimporter.invalidate_caches


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """Re-read the archive unless it is unchanged since this importer's
    last read."""
    stamp = _stamp(self.archive)
    if stamp is None or stamp != getattr(self, "_read_stamp", None):
        _reread_archive(self)
        self._read_stamp = stamp


if __name__ == "__main__":
    from pyspark import daemon

    zipimport.zipimporter.invalidate_caches = invalidate_caches
    # stamp the daemon's importers once, so forked workers inherit them
    importlib.invalidate_caches()
    daemon.manager()
