"""The scripts/ tools: one bench-session mirror, and ab.py's parity-gated run."""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

import pytest

from conftest import SF_DIR

REPO = Path(__file__).resolve().parents[1]
SCRIPTS = REPO / "scripts"


def _git(*args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        ["git", "-C", str(REPO), *args], capture_output=True, text=True
    )


def test_only_the_harness_and_degenerate_sweep_build_a_session():
    """bench.py's session is mirrored once, in _harness.py; degenerate_sweep
    keeps its deliberately bare driver-like session. Every other script
    takes its session from the harness."""
    builders = sorted(
        p.name for p in SCRIPTS.glob("*.py") if "SparkSession.builder" in p.read_text()
    )
    assert builders == ["_harness.py", "degenerate_sweep.py"]


_NO_HISTORY = _git("rev-parse", "--verify", "HEAD").returncode != 0


@pytest.mark.skipif(_NO_HISTORY, reason="window_pin.py reads the git history")
def test_window_pin_exits_quietly_when_its_reader_closes():
    """`window_pin.py | head -2` must not end in a BrokenPipeError
    traceback. The reader here closes before reading a line, so every
    write of the report hits a closed pipe."""
    proc = subprocess.Popen(
        [sys.executable, str(SCRIPTS / "window_pin.py")],
        cwd=REPO,
        stdout=subprocess.PIPE,
        stderr=subprocess.PIPE,
        text=True,
    )
    proc.stdout.close()
    err = proc.stderr.read()
    proc.wait(timeout=120)
    assert "Traceback" not in err, err
    assert "BrokenPipeError" not in err, err


@pytest.mark.skipif(
    _NO_HISTORY,
    reason="ab.py compares git trees; this checkout has no git history",
)
def test_ab_self_comparison_passes_parity_and_removes_its_worktree():
    before = _git("worktree", "list", "--porcelain").stdout
    proc = subprocess.run(
        [sys.executable, str(SCRIPTS / "ab.py"), "HEAD", ".", "filter_pushdown_project"],
        cwd=REPO,
        env={**os.environ, "AB_PASSES": "1", "SPARK_GRAFT_SF_DIR": SF_DIR},
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stdout + proc.stderr[-3000:]
    assert "parity OK: 2 trees x 1 passes, filter_pushdown_project (" in proc.stdout
    assert proc.stdout.count(" BEST ") == 2
    after = _git("worktree", "list", "--porcelain").stdout
    assert after == before
    assert "z2ps-ab-" not in after
