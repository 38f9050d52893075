"""The pipelines' observed counts and cached frames under faults, run
once in a fresh ``local[4,2]`` session (tests/pipeline_faults.py): a
retried task does not count its rows twice, and a write that raises
leaves nothing cached."""

import json
import subprocess
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent


@pytest.fixture(scope="module")
def runs(tmp_path_factory):
    script = REPO / "tests" / "pipeline_faults.py"
    proc = subprocess.run(
        [sys.executable, str(script), str(tmp_path_factory.mktemp("faults"))],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=900,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def test_task_retry_does_not_double_count(runs):
    retry = runs["retry"]
    assert retry["failed_attempts"] >= 1
    for manifest, counted in zip(retry["manifests"], retry["counted"]):
        assert {k: manifest[k] for k in counted} == counted, manifest["shard"]
    assert retry["merge"] == retry["counted_merge"]


@pytest.mark.parametrize("case", ["kg_write_fails", "dedup_write_fails"])
def test_failed_write_releases_cached_frames(runs, case):
    got = runs[case]
    assert got["failed"]
    assert got["empty_before"] and got["empty_after"], got
