"""PySpark worker daemon: a guarded zip-directory cache and a frozen,
pre-imported library heap that every worker forks from.

Before every task, pyspark's worker calls ``importlib.invalidate_caches()``
so that files shipped with ``addPyFile`` become importable. On Python 3.11,
that makes each ``zipimport.zipimporter`` re-parse its archive's whole
central directory. A worker holds one importer per package it has imported
from ``pyspark.zip``, so every task re-reads the same 1,300-entry directory
about 15 times: 60-120 ms of CPU per task.

:func:`install` guards ``zipimporter.invalidate_caches``: the original
method runs only when the archive's ``(st_mtime_ns, st_size)`` differs from
what that importer last read, so a rewritten or newly shipped archive is
still picked up.

After every task of a reused worker, Spark's daemon runs a full
``gc.collect()``. Each worker used to import numpy, pyarrow and pandas for
itself, so that collect walked about 74k tracked objects (36-97 ms per task
on 4 CPUs), and each worker held its own copy of the library heap (about
148 MB RSS). Run as a module, this daemon imports those libraries once and
calls ``gc.freeze()`` before Spark's own daemon starts forking (CPython's
pre-fork pattern). Workers inherit the imports in the permanent generation:
the per-task collect walks only what the worker itself created (about 1.3k
objects, under 1 ms), garbage made during a task is still collected, and
the library pages stay shared copy-on-write because the collector never
writes to them (about 110 MB RSS per worker, for 52 MB more in the daemon).

Enable it with ``spark.python.daemon.module=cms_topn_spark.worker_daemon``;
the package must be importable by the daemon process (see ``get_spark``).
"""

import gc
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

    # every worker imports these anyway (pa.array(list) pulls pandas in)
    import numpy  # noqa: F401
    import pandas  # noqa: F401
    import pyarrow  # noqa: F401
    import pyarrow.compute  # noqa: F401

    gc.freeze()
    manager()
