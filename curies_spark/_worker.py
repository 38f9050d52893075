"""Python-worker hook: stop re-reading Spark's own archives on every task.

Before each task, Spark's ``worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()``. On Python 3.11 that makes every
``zipimporter`` on the worker's path re-read its whole archive
directory: ``pyspark.zip``, the py4j zip and the spark-core jar, about
0.2 CPU-s per task. The archives a Spark distribution ships do not
change while an application runs, so inside a Python worker
:func:`install` wraps ``zipimporter.invalidate_caches`` to skip archives
under ``realpath(SPARK_HOME)``. Paths are compared as realpaths because
``SPARK_HOME`` is often a symlink while the jar sits on the worker's
path under its resolved directory.

Everything else still invalidates: any archive outside ``SPARK_HOME``,
and any archive under the SparkFiles root (``addPyFile`` zips), even
when a standalone worker keeps that root inside ``SPARK_HOME``. The
driver is untouched, and without ``SPARK_HOME`` the hook does nothing.
Worker reuse keeps the patch for every later task of the process.

The package imports this module, so any worker that unpickles a
``curies_spark`` reference is patched. A UDF body that cloudpickle ships
by value may reference nothing of the package, so every UDF,
``mapInPandas`` and ``applyInPandasWithState`` body in the package calls
:func:`install` first (``tests/test_worker_hook.py`` checks both).

Stdlib only: a Python worker pays for every module-level import.
"""

from __future__ import annotations

import functools
import os
import sys
import zipimport


def install() -> None:
    """Patch ``zipimporter.invalidate_caches`` once per worker process."""
    original = zipimport.zipimporter.invalidate_caches
    if hasattr(original, "__wrapped__"):
        return
    files = sys.modules.get("pyspark.core.files")
    spark_home = os.environ.get("SPARK_HOME")
    if files is None or not files.SparkFiles._is_running_on_worker or not spark_home:
        return
    spark_files = files.SparkFiles
    spark_root = os.path.join(os.path.realpath(spark_home), "")

    @functools.wraps(original)
    def invalidate_caches(self) -> None:
        archive = os.path.realpath(self.archive)
        user_root = spark_files._root_directory
        if not archive.startswith(spark_root) or (
            user_root
            and archive.startswith(os.path.join(os.path.realpath(user_root), ""))
        ):
            original(self)

    zipimport.zipimporter.invalidate_caches = invalidate_caches


install()
