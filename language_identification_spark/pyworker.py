"""Executor-side hygiene shared by every Python batch function.

At the start of every task the pyspark worker calls
``importlib.invalidate_caches()`` (``pyspark/worker_util.py::
setup_spark_files``).  On Python 3.11 that makes each cached
``zipimport.zipimporter`` re-read its archive's whole central directory —
and a reused worker caches ~16 of them (package dirs inside
``pyspark.zip``, the py4j zip and the spark-core jar).  Measured on a
4-core host: ~12 ms per ``pyspark.zip`` re-read and ~49 ms per spark-core
jar re-read, ~0.24 s per task before its first row.

``forget_zip_importers`` drops those cache entries.  Modules already
imported keep working (they hold their own loader); an import that later
needs an archive rebuilds just that importer.  A worker whose tasks import
nothing new therefore starts its next task with nothing to re-read.
"""

from __future__ import annotations

import sys
import zipimport


def forget_zip_importers() -> None:
    """Delete every ``zipimporter`` from ``sys.path_importer_cache``.

    Call it first in every function that Spark runs on Python workers."""
    cache = sys.path_importer_cache
    for path, finder in list(cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            cache.pop(path, None)
