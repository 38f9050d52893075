"""Scratch paths for one bench run.

Every component bench that writes a corpus, an index or a stream takes
its paths from :func:`run_paths`, so no run reads what an earlier run,
at another scale, left behind, and no run leaves anything behind.
"""

from __future__ import annotations

import contextlib
import hashlib
import shutil
import tempfile


@contextlib.contextmanager
def run_paths(scale: str, *names: str):
    """``{name: path}`` for ``corpus`` and each of ``names``, all under
    one fresh temp dir that is removed when the block exits, however it
    exits. ``scale`` says what the corpus is built from (the realpath of
    an sf dir, or a synthetic corpus's size) and keys the corpus name,
    so runs at two scales never read one corpus."""
    root = tempfile.mkdtemp(prefix="curies_spark_bench_")
    key = hashlib.sha256(scale.encode()).hexdigest()[:16]
    try:
        yield {"corpus": f"{root}/corpus_{key}", **{n: f"{root}/{n}" for n in names}}
    finally:
        shutil.rmtree(root, ignore_errors=True)
