"""The driver's correctness gate reads only a 50-query prefix of the
registry.  These tests pin the round-4 rotation invariants so a future
edit can't silently dodge the hard signal (VERDICT r03, next-round #1/#9).
"""

import json
import os
import subprocess
import sys
from pathlib import Path

import pytest

import bsc_project_spark.queries as Q

REPO = Path(__file__).resolve().parent.parent


def test_prefix_covers_all_never_driver_checked():
    """Union of driver CORRECTNESS rows + the current 50-row prefix must
    cover the whole registry (137/137 after the r04 rotation)."""
    checked = set()
    for f in sorted(REPO.glob("CORRECTNESS_r*.json")):
        d = json.loads(f.read_text())
        checked |= set(d["queries"] if "queries" in d else d)
    if not checked:
        pytest.skip("no driver correctness files yet")
    allq = list(Q.all_queries())
    uncovered = [q for q in allq if q not in checked and q not in allq[:50]]
    assert not uncovered, (
        f"{len(uncovered)} queries neither driver-checked in any round nor "
        f"in the current gate prefix: {uncovered}"
    )


def test_changed_queries_inside_prefix():
    """scripts/check_gate_prefix.py: every query whose definition changed
    since the last driver round must be inside the 50-row prefix."""
    proc = subprocess.run(
        [sys.executable, str(REPO / "scripts" / "check_gate_prefix.py")],
        capture_output=True,
        text=True,
        cwd=REPO,
    )
    assert proc.returncode == 0, proc.stdout + proc.stderr


def test_gate_prefix_check_needs_git_history(tmp_path):
    """Outside a git checkout (an export, a `git archive` copy) the check
    cannot find its base round: it says so and fails, without a traceback."""
    proc = subprocess.run(
        [sys.executable, str(REPO / "scripts" / "check_gate_prefix.py")],
        capture_output=True,
        text=True,
        cwd=REPO,
        env={**os.environ, "GIT_DIR": str(tmp_path)},
    )
    out = proc.stdout + proc.stderr
    assert proc.returncode != 0, out
    assert "needs git history" in out
    assert "Traceback" not in out
