"""A benchmark run leaves the working tree exactly as it found it.

Runs each workload once (a few minutes in all) and compares
``git status --porcelain --ignored`` before and after, with bytecode
caching left on so a stray ``__pycache__`` would show."""

import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[2]

pytestmark = pytest.mark.skipif(
    shutil.which("git") is None or not (ROOT / ".git").exists(),
    reason="needs a git checkout",
)


def _status() -> str:
    return subprocess.run(
        ["git", "status", "--porcelain", "--ignored"],
        cwd=ROOT, capture_output=True, text=True, check=True,
    ).stdout


@pytest.mark.parametrize("workload", ["query_mix", "elt_ingest", "corpus_sync"])
def test_run_leaves_git_status_unchanged(workload):
    before = _status()
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "1",
         "--seconds", "1", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
        # the run itself must keep bytecode caches out of the tree
        env={k: v for k, v in os.environ.items() if k != "PYTHONDONTWRITEBYTECODE"},
    )
    assert p.returncode == 0, p.stderr[-3000:]
    assert json.loads(p.stdout.splitlines()[-1])["correct"]
    assert _status() == before
    assert not (ROOT / ".perfbench_tmp").exists()
