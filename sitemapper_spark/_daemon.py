"""PySpark worker daemon that keeps the Spark archives' zip directories.

Every PySpark task starts with ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). On CPython 3.11 that calls
``zipimporter.invalidate_caches()`` on every cached zip importer, and each
call re-reads its whole archive directory: ``pyspark.zip``, the py4j zip
and the spark-core jar, once per importer (``pyspark.zip``,
``pyspark.zip/pyspark/sql``, the jar, ``jar/org``, ...). That is
170-320 ms of worker CPU per task on a 4-core VM, before the UDF runs.

The archives that are on ``sys.path`` when the daemon starts belong to the
Spark install and do not change while it runs, so their re-read is
skipped. Any other archive (``addPyFile`` / ``--py-files``) still gets the
original call, so a zip shipped later stays importable.

``session.get_spark`` selects this module through
``spark.python.daemon.module``. Spark starts it as
``python -m sitemapper_spark._daemon [worker module]``; it then hands over
to ``pyspark.daemon.manager()``, which forks every worker from this
process, so the workers inherit the patched importer.
"""

from __future__ import annotations

import os
import sys
import zipimport
from collections.abc import Iterable


def startup_archives(path: Iterable[str] | None = None) -> frozenset[str]:
    """The entries of ``path`` (default ``sys.path``) that are files,
    that is, archives: the zip importer's ``archive`` is the entry as
    written."""
    return frozenset(p for p in (sys.path if path is None else path)
                     if os.path.isfile(p))


def keep_archive_directories(archives: Iterable[str]) -> None:
    """Make ``zipimporter.invalidate_caches`` a no-op for ``archives``."""
    keep = frozenset(archives)
    reread = zipimport.zipimporter.invalidate_caches

    def invalidate_caches(self):
        if self.archive not in keep:
            reread(self)

    zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    keep_archive_directories(startup_archives())
    from pyspark.daemon import manager

    manager()
