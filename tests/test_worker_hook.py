"""The Python-worker hook (``curies_spark/_worker.py``): inside a worker
it stops ``importlib.invalidate_caches()`` from re-reading the archives
under ``SPARK_HOME`` and nothing else, and a reused worker freezes what
it imported so the daemon's per-task ``gc.collect()`` walks only what the
task allocated; every Python stage of the package installs it; and it
costs the driver nothing."""

import ast
import json
import subprocess
import sys
import textwrap
from pathlib import Path

import pytest

from worker_hook_stages import STAGES

REPO = Path(__file__).resolve().parent.parent
PACKAGE = REPO / "curies_spark"

#: A fresh interpreter that plays the worker. ``SPARK_HOME`` is a symlink
#: to a versioned tmp dir, as a Spark install often is; ``write_zip``
#: writes a one-module archive; ``import_new_module`` grows ``sys.modules``.
_WORKER_PRELUDE = """
import importlib, importlib.util, os, sys, zipfile, zipimport
from pyspark.core.files import SparkFiles

original = zipimport.zipimporter.invalidate_caches
tmp = sys.argv[1]
real = os.path.join(tmp, "spark-4.1.2")
os.makedirs(os.path.join(real, "work"))
home = os.path.join(tmp, "spark")
os.symlink(real, home)


def write_zip(path, module):
    with zipfile.ZipFile(path, "w") as z:
        z.writestr(module + ".py", "")


def import_new_module():
    write_zip(os.path.join(tmp, "fresh.zip"), "fresh")
    sys.path.insert(0, os.path.join(tmp, "fresh.zip"))
    importlib.import_module("fresh")
"""


def _play_worker(tmp_path, body: str) -> None:
    code = _WORKER_PRELUDE + textwrap.dedent(body)
    proc = subprocess.run(
        [sys.executable, "-c", code, str(tmp_path)],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]


def test_hook_skips_only_archives_under_spark_home(tmp_path):
    _play_worker(
        tmp_path,
        """
        os.environ["SPARK_HOME"] = home
        SparkFiles._is_running_on_worker = True
        SparkFiles._root_directory = os.path.join(home, "work")
        # the spark-core jar sits on the path under the resolved directory
        archives = {
            "spark": os.path.join(real, "spark.zip"),
            "linked": os.path.join(home, "linked.zip"),
            "user": os.path.join(real, "work", "user.zip"),  # addPyFile
            "other": os.path.join(tmp, "other.zip"),
        }
        for name, path in archives.items():
            write_zip(path, name + "_old")
            sys.path.insert(0, path)
            importlib.import_module(name + "_old")
        import curies_spark  # the package installs the hook on import

        assert zipimport.zipimporter.invalidate_caches is not original
        for name, path in archives.items():
            write_zip(path, name + "_new")
        importlib.invalidate_caches()
        found = {n: importlib.util.find_spec(n + "_new") is not None for n in archives}
        assert found == {"spark": False, "linked": False, "user": True, "other": True}, found
        """,
    )


def test_hook_leaves_the_driver_and_an_unset_spark_home_alone(tmp_path):
    _play_worker(
        tmp_path,
        """
        os.environ["SPARK_HOME"] = home
        import curies_spark._worker as hook  # the driver: the flag is false

        assert zipimport.zipimporter.invalidate_caches is original
        del os.environ["SPARK_HOME"]
        SparkFiles._is_running_on_worker = True
        hook.install()
        assert zipimport.zipimporter.invalidate_caches is original
        """,
    )


def test_hook_installs_once(tmp_path):
    _play_worker(
        tmp_path,
        """
        os.environ["SPARK_HOME"] = home
        SparkFiles._is_running_on_worker = True
        import curies_spark._worker as hook

        hook.install()
        hook.install()
        assert zipimport.zipimporter.invalidate_caches.__wrapped__ is original
        """,
    )


def test_hook_resolves_each_realpath_once(tmp_path):
    _play_worker(
        tmp_path,
        """
        calls = []
        realpath = os.path.realpath
        os.path.realpath = lambda path: calls.append(path) or realpath(path)
        os.environ["SPARK_HOME"] = home
        SparkFiles._is_running_on_worker = True
        SparkFiles._root_directory = os.path.join(home, "work")
        for name in ("spark", "other"):
            path = os.path.join(real if name == "spark" else tmp, name + ".zip")
            write_zip(path, name)
            sys.path.insert(0, path)
            importlib.import_module(name)
        import curies_spark._worker  # noqa: F401

        importlib.invalidate_caches()
        first = len(calls)
        importlib.invalidate_caches()
        assert first > 0 and len(calls) == first, calls[first:]
        """,
    )


def test_hook_never_freezes_the_driver(tmp_path):
    _play_worker(
        tmp_path,
        """
        import gc
        import pyarrow as pa

        os.environ["SPARK_REUSE_WORKER"] = "1"
        os.environ["SPARK_HOME"] = home
        from curies_spark.functions import kernels
        from curies_spark.plans.demo import large_converter

        conv = large_converter()
        uri = next(iter(conv.reverse_prefix_map)) + "123"
        for body in (kernels._compress, kernels._standardize_uri):
            out = kernels._arrow_udf(body, conv).func(pa.array([uri, "https://unregistered.example/x", None]))
            assert out[0].as_py() is not None and out[1].as_py() is None
        import_new_module()  # an import after the kernels ran

        kernels._worker.install()
        assert gc.get_freeze_count() == 0
        assert zipimport.zipimporter.invalidate_caches is original
        """,
    )


def test_hook_never_freezes_a_worker_that_is_not_reused(tmp_path):
    _play_worker(
        tmp_path,
        """
        import gc

        os.environ.pop("SPARK_REUSE_WORKER", None)
        SparkFiles._is_running_on_worker = True
        import curies_spark._worker as hook
        import_new_module()

        hook.install()
        assert gc.get_freeze_count() == 0
        """,
    )


def test_hook_freezes_once_per_growth_of_sys_modules(tmp_path):
    _play_worker(
        tmp_path,
        """
        import gc
        import weakref

        # no SPARK_HOME: the freeze does not depend on the archive patch
        os.environ.pop("SPARK_HOME", None)
        os.environ["SPARK_REUSE_WORKER"] = "1"
        SparkFiles._is_running_on_worker = True
        import curies_spark._worker as hook

        hook.install()
        frozen = gc.get_freeze_count()
        assert frozen > 1000
        kept = [[] for _ in range(100)]  # a freeze now would take these
        hook.install()
        hook.install()
        assert gc.get_freeze_count() == frozen

        class Node:
            pass

        cycle = Node()
        cycle.self = cycle
        dead = weakref.ref(cycle)
        del cycle
        import_new_module()

        hook.install()
        refrozen = gc.get_freeze_count()
        assert refrozen > frozen + len(kept)
        assert dead() is None  # collected before the freeze, not frozen
        hook.install()
        assert gc.get_freeze_count() == refrozen
        assert zipimport.zipimporter.invalidate_caches is original
        """,
    )


@pytest.fixture(scope="module")
def stage_results():
    proc = subprocess.run(
        [sys.executable, str(REPO / "tests" / "worker_hook_stages.py")],
        capture_output=True,
        text=True,
        timeout=900,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("stage", list(STAGES))
def test_python_stage_leaves_its_worker_patched(stage_results, stage):
    assert stage_results[stage]["patched"] is True


@pytest.mark.parametrize("stage", list(STAGES))
def test_python_stage_leaves_its_worker_frozen(stage_results, stage):
    # ``tracked`` is what the daemon's per-task ``gc.collect()`` walks;
    # without the freeze these workers track about 92,500 objects
    assert stage_results[stage]["frozen"] > 10_000
    assert stage_results[stage]["tracked"] < 1_000


def test_worker_module_imports_only_the_stdlib():
    # a Python worker pays for every module-level import (``import
    # pandas`` alone is 0.37-0.44 CPU-s per fresh worker)
    tree = ast.parse((PACKAGE / "_worker.py").read_text())
    imported = {
        alias.name.split(".")[0]
        for node in tree.body
        if isinstance(node, ast.Import)
        for alias in node.names
    } | {
        node.module.split(".")[0]
        for node in tree.body
        if isinstance(node, ast.ImportFrom)
    }
    assert imported - sys.stdlib_module_names - {"__future__"} == set()


def test_import_starts_no_jvm():
    code = "\n".join(
        [
            "import curies_spark",
            "from pyspark import SparkContext",
            "assert SparkContext._gateway is None, 'a JVM was launched'",
            "assert SparkContext._active_spark_context is None",
        ]
    )
    proc = subprocess.run(
        [sys.executable, "-c", code], cwd=REPO, capture_output=True, text=True, timeout=300
    )
    assert proc.returncode == 0, proc.stderr[-2000:]


_STAGE_METHODS = {"mapInPandas", "mapInArrow", "applyInPandas", "applyInPandasWithState"}


def _calls_install_first(fn: ast.FunctionDef) -> bool:
    first = fn.body[0]
    return (
        isinstance(first, ast.Expr)
        and isinstance(first.value, ast.Call)
        and ast.unparse(first.value.func) == "_worker.install"
    )


def test_every_python_stage_body_installs_the_hook():
    # a body that cloudpickle ships by value may import nothing of the
    # package, so each one installs the hook itself
    offenders, bodies = [], []
    for path in sorted(PACKAGE.rglob("*.py")):
        tree = ast.parse(path.read_text())
        passed = {
            node.args[0].id
            for node in ast.walk(tree)
            if isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr in _STAGE_METHODS
            and node.args
            and isinstance(node.args[0], ast.Name)
        }
        for fn in ast.walk(tree):
            if not isinstance(fn, ast.FunctionDef):
                continue
            decorated = any(
                isinstance(d, ast.Call)
                and isinstance(d.func, ast.Attribute)
                and d.func.attr in {"arrow_udf", "pandas_udf"}
                for d in fn.decorator_list
            )
            if decorated or fn.name in passed:
                bodies.append(f"{path.relative_to(REPO)}::{fn.name}")
                if not _calls_install_first(fn):
                    offenders.append(f"{path.relative_to(REPO)}:{fn.lineno} {fn.name}")
    # every large-map conversion op runs the one body of the Arrow UDF
    # factory, ``kernels._arrow_udf``; the other 15 are operator stages
    assert "curies_spark/functions/kernels.py::_kernel" in bodies
    assert len(bodies) == 16, bodies
    assert offenders == []
