"""Per-task setup for the Python functions the engine ships to executors.

Before every task, PySpark's worker calls ``importlib.invalidate_caches()``
(``pyspark/worker_util.py:setup_spark_files``) so files shipped with
``addPyFile`` become importable.  On CPython 3.11 every ``zipimporter`` in
``sys.path_importer_cache`` answers that call by re-reading its archive's
whole central directory.  A reused worker holds one such importer per
package path imported out of ``pyspark.zip`` (~1.3k entries each), one for
py4j and some for Spark jars (~5k entries) — 0.16-0.3 CPU-s per task, most
of a small task's worker CPU.

:func:`drop_spark_zip_importers` forgets those importers.  The archives
Spark ships with the worker never change while it lives; an import that
later needs one of the dropped paths rebuilds the importer from
zipimport's module-level directory cache without re-reading the archive.
Archives under the SparkFiles root (user ``addPyFile`` zips) are kept, so
they still get Spark's refresh semantics.
"""

from __future__ import annotations

import os
import sys
import zipimport


def _spark_files_root() -> str | None:
    # SparkFiles.getRootDirectory() on a worker; None before a worker set
    # it up (and off-worker when no SparkContext ran in this process)
    files = sys.modules.get("pyspark.core.files")
    return getattr(getattr(files, "SparkFiles", None), "_root_directory", None)


def drop_spark_zip_importers() -> int:
    """Remove the ``zipimporter`` entries of archives outside the
    SparkFiles root from ``sys.path_importer_cache``; returns how many
    were dropped.  Idempotent; call at the entry of every Python function
    that runs as a Spark task."""
    root = _spark_files_root()
    prefix = os.path.join(root, "") if root else None
    cache = sys.path_importer_cache
    drop = [
        path
        for path, finder in cache.items()
        if isinstance(finder, zipimport.zipimporter)
        and not (prefix and finder.archive.startswith(prefix))
    ]
    for path in drop:
        cache.pop(path, None)
    return len(drop)
