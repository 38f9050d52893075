"""The component benches under ``tools/`` take their Spark session from
``bench.py`` and their SQL metrics from ``perfbench/harness.py``: none
builds its own session or scrapes the status REST API, and importing
one starts nothing."""

import importlib.util
import os
import subprocess
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
TOOLS = sorted((REPO / "tools").glob("*.py"))


def test_tools_build_no_session_and_call_no_rest_api():
    offenders = [
        (path.name, needle)
        for path in TOOLS
        for needle in ("SparkSession.builder", "uiWebUrl", "/api/v1/")
        if needle in path.read_text()
    ]
    assert offenders == []


def test_tools_import_without_starting_spark():
    code = "\n".join(
        [
            "import importlib",
            "from pyspark import SparkContext",
            f"for name in {[p.stem for p in TOOLS]!r}:",
            "    importlib.import_module('tools.' + name)",
            "assert SparkContext._gateway is None, 'a JVM was launched'",
            "assert SparkContext._active_spark_context is None",
        ]
    )
    # a fresh interpreter, so the suite's own session cannot mask one
    # started at import
    proc = subprocess.run(
        [sys.executable, "-c", code], cwd=REPO, capture_output=True, text=True, timeout=300
    )
    assert proc.returncode == 0, proc.stderr[-2000:]


def _load_tool(name):
    spec = importlib.util.spec_from_file_location(name, REPO / "tools" / f"{name}.py")
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


def test_bench_ann_scales_share_no_corpus_and_leave_nothing(tmp_path):
    """Runs at two scales write distinct corpora, every path of a run
    sits under one temp dir, and that dir is gone after the run, also
    when the run fails."""
    run_paths = _load_tool("bench_ann").run_paths
    (tmp_path / "sf0.01").mkdir()
    (tmp_path / "sf0.1").mkdir()
    roots = []
    with pytest.raises(RuntimeError):
        with run_paths(str(tmp_path / "sf0.01")) as small:
            with run_paths(str(tmp_path / "sf0.1")) as large:
                assert small["corpus"] != large["corpus"]
                for paths in (small, large):
                    root = os.path.dirname(paths["corpus"])
                    assert os.path.isdir(root)
                    assert {os.path.dirname(p) for p in paths.values()} == {root}
                    roots.append(root)
                raise RuntimeError("a failed run")
    assert roots[0] != roots[1]
    assert not any(os.path.exists(root) for root in roots)


def test_tools_write_no_fixed_tmp_path():
    """Every bench takes its scratch paths from the one ``run_paths``
    (a temp dir per run, removed at exit); only ``make_sf1.py``, whose
    output is meant to outlive the run, names a fixed path."""
    offenders = [
        path.name
        for path in TOOLS
        if path.name != "make_sf1.py" and "/tmp/curies_spark_" in path.read_text()
    ]
    assert offenders == []
    definers = [path.name for path in TOOLS if "def run_paths(" in path.read_text()]
    assert definers == ["bench_paths.py"]
