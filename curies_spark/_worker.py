"""Python-worker hook: take the two fixed per-task costs off a reused worker.

A Python stage costs per task, not per row, and a reused worker pays two
fixed costs on every task. :func:`install` removes both, inside a Python
worker only; the driver is untouched.

1. **Archive re-reads.** Before each task, Spark's
   ``worker_util.setup_spark_files`` calls ``importlib.invalidate_caches()``.
   On Python 3.11 that makes every ``zipimporter`` on the worker's path
   re-read its whole archive directory: ``pyspark.zip``, the py4j zip and
   the spark-core jar, about 0.2 CPU-s per task. The archives a Spark
   distribution ships do not change while an application runs, so the
   hook wraps ``zipimporter.invalidate_caches`` to skip archives under
   ``realpath(SPARK_HOME)``. Paths are compared as realpaths because
   ``SPARK_HOME`` is often a symlink while the jar sits on the worker's
   path under its resolved directory; each realpath is resolved once per
   worker. Everything else still invalidates: any archive outside
   ``SPARK_HOME``, and any archive under the SparkFiles root
   (``addPyFile`` zips), even when a standalone worker keeps that root
   inside ``SPARK_HOME``. Without ``SPARK_HOME`` this part does nothing.
2. **Full collections.** After each task, Spark's daemon runs
   ``gc.collect()`` in a reused worker (``SPARK_REUSE_WORKER``). A worker
   that has imported pyspark, pyarrow, pandas and this package tracks
   about 92,000 objects, so that collection costs 45-60 ms of CPU per
   task, whatever the batch size. Nearly all of those objects are what
   the worker imported, and they live as long as the worker. So whenever
   ``sys.modules`` has grown since the last time, the hook collects and
   then ``gc.freeze()``s: the heap moves to the permanent generation and
   the daemon's collection walks only what the task allocated. Frozen
   objects are still freed by reference counting; only a reference cycle
   among them outlives its use, and collecting first keeps cyclic garbage
   out. A worker that is not reused is never collected by the daemon, so
   there the hook does not freeze.

Worker reuse keeps the patch and the frozen heap for every later task of
the process. The package imports this module, so any worker that
unpickles a ``curies_spark`` reference is patched. A UDF body that
cloudpickle ships by value may reference nothing of the package, so
every UDF, ``mapInPandas`` and ``applyInPandasWithState`` body in the
package calls :func:`install` first, on every batch
(``tests/test_worker_hook.py`` checks both); after the first batch each
call is a few lookups.

Stdlib only: a Python worker pays for every module-level import.
"""

from __future__ import annotations

import functools
import gc
import os
import sys
import zipimport

#: ``len(sys.modules)`` at the last freeze
_frozen_modules = 0

_realpath = functools.lru_cache(maxsize=None)(os.path.realpath)


def install() -> None:
    """Inside a Python worker: patch ``zipimporter.invalidate_caches`` once
    per process, and freeze the heap again if modules were imported since
    the last freeze."""
    files = sys.modules.get("pyspark.core.files")
    if files is None or not files.SparkFiles._is_running_on_worker:
        return
    _freeze_imports()
    _patch_invalidate_caches(files.SparkFiles)


def _freeze_imports() -> None:
    global _frozen_modules
    if len(sys.modules) <= _frozen_modules or not os.environ.get("SPARK_REUSE_WORKER"):
        return
    _frozen_modules = len(sys.modules)
    gc.collect()
    gc.freeze()


def _patch_invalidate_caches(spark_files) -> None:
    original = zipimport.zipimporter.invalidate_caches
    spark_home = os.environ.get("SPARK_HOME")
    if hasattr(original, "__wrapped__") or not spark_home:
        return
    spark_root = os.path.join(_realpath(spark_home), "")

    @functools.wraps(original)
    def invalidate_caches(self) -> None:
        archive = _realpath(self.archive)
        user_root = spark_files._root_directory
        if not archive.startswith(spark_root) or (
            user_root and archive.startswith(os.path.join(_realpath(user_root), ""))
        ):
            original(self)

    zipimport.zipimporter.invalidate_caches = invalidate_caches


install()
