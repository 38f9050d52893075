"""The component benches under ``tools/`` take their Spark session from
``bench.py`` and their SQL metrics from ``perfbench/harness.py``: none
builds its own session or scrapes the status REST API, and importing
one starts nothing."""

import subprocess
import sys
from pathlib import Path

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
