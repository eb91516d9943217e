"""PySpark worker daemon that skips re-reading unchanged zip archives.

Before every task, pyspark's worker calls ``importlib.invalidate_caches()``
so that files shipped with ``addPyFile`` become importable. On Python 3.11,
that makes each ``zipimport.zipimporter`` re-parse its archive's whole
central directory. A worker holds one importer per package it has imported
from ``pyspark.zip``, so every task re-reads the same 1,300-entry directory
about 15 times: 60-120 ms of CPU per task.

:func:`install` guards ``zipimporter.invalidate_caches``: the original
method runs only when the archive's ``(st_mtime_ns, st_size)`` differs from
what that importer last read, so a rewritten or newly shipped archive is
still picked up. Run as a module, this installs the guard and then runs
Spark's own daemon unchanged. Enable it with
``spark.python.daemon.module=cms_topn_spark.worker_daemon``; the package
must be importable by the daemon process (see ``get_spark``).
"""

import os
import weakref
import zipimport


def install() -> None:
    """Make ``zipimporter.invalidate_caches`` a no-op on unchanged archives."""
    read_directory = zipimport.zipimporter.invalidate_caches
    read_at = weakref.WeakKeyDictionary()  # importer -> archive stat it last read

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            key = (st.st_mtime_ns, st.st_size)
        except OSError:
            key = None
        if key is None or read_at.get(self) != key:
            read_directory(self)
            read_at[self] = key

    zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    install()
    from pyspark.daemon import manager

    manager()
