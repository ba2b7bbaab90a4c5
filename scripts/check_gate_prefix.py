#!/usr/bin/env python3
"""Guard: every query whose definition changed since the last driver
correctness round must sit inside the 50-row gate prefix.

The external driver checks only the first 50 entries of
``bsc_project_spark.queries.all_queries()`` per round, so an edit to a
tail query would silently dodge the hard signal.  This script makes that
impossible to miss:

1. find the most recent commit that touched a ``CORRECTNESS_r*.json``
   (the driver's round-commit = the last time the gate ran),
2. materialize that commit in a temp worktree and dump a per-query
   fingerprint (sha256 of the Spark callable's source, its captured
   string closures — which covers ``sql_query(...)`` registrations —
   and the oracle SQL),
3. diff against HEAD fingerprints: any changed or brand-new query that
   is NOT in the current 50-row prefix is an error.

Known coarseness: fingerprints cover the query function itself, not
shared helpers it calls (e.g. ``queries/prefix.py``); when editing a
shared helper, rotate its consumers into the prefix by hand (the prefix
comments in ``queries/__init__.py`` track this).

Usage: python scripts/check_gate_prefix.py
(exit 0 = ok, 1 = violation, 2 = no git history to compare against)
"""

from __future__ import annotations

import hashlib
import inspect
import json
import shutil
import subprocess
import sys
import tempfile
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent

_DUMP_SNIPPET = r"""
import hashlib, inspect, json, sys

import bsc_project_spark.queries as Q


def fingerprint(spec):
    h = hashlib.sha256()
    fn = spec.spark
    try:
        h.update(inspect.getsource(fn).encode())
    except (OSError, TypeError):
        h.update(repr(fn).encode())
    for cell in getattr(fn, "__closure__", None) or ():
        try:
            v = cell.cell_contents
        except ValueError:
            continue
        if isinstance(v, str):
            h.update(v.encode())
    h.update((spec.oracle or "").encode())
    return h.hexdigest()


print(json.dumps({n: fingerprint(s) for n, s in Q.all_queries().items()}))
"""


def _git(*args: str, cwd: Path = REPO) -> str:
    return subprocess.run(
        ["git", *args], cwd=cwd, check=True, capture_output=True, text=True
    ).stdout.strip()


def _dump_fingerprints(tree: Path) -> dict[str, str]:
    out = subprocess.run(
        [sys.executable, "-c", _DUMP_SNIPPET],
        cwd=tree,
        check=True,
        capture_output=True,
        text=True,
        env={"PYTHONPATH": str(tree), "PATH": "/usr/bin:/bin:/usr/local/bin",
             "HOME": str(Path.home()), "JAVA_HOME": __import__("os").environ.get("JAVA_HOME", "")},
    ).stdout
    return json.loads(out.strip().splitlines()[-1])


def main() -> int:
    try:
        base_commit = _git(
            "log", "-1", "--format=%H", "--", "CORRECTNESS_r*.json"
        )
    except (OSError, subprocess.CalledProcessError) as e:
        detail = getattr(e, "stderr", None) or str(e)
        print(
            "ERROR: the gate-prefix check needs git history (a git checkout "
            f"of this repository) to find its base round: {detail.strip()}"
        )
        return 2
    if not base_commit:
        print("no CORRECTNESS_r*.json in history; nothing to guard against")
        return 0

    head = _dump_fingerprints(REPO)
    prefix = list(head)[:50]

    tmp = Path(tempfile.mkdtemp(prefix="gate_prefix_"))
    try:
        _git("worktree", "add", "--detach", str(tmp), base_commit)
        try:
            base = _dump_fingerprints(tmp)
        finally:
            _git("worktree", "remove", "--force", str(tmp))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    changed = sorted(
        n for n, fp in head.items() if base.get(n) != fp
    )
    violations = [n for n in changed if n not in prefix]
    print(
        f"base={base_commit[:10]} queries={len(head)} "
        f"changed-or-new since base={len(changed)}"
    )
    if changed:
        for n in changed:
            mark = "OK(prefix)" if n in prefix else "VIOLATION(tail)"
            print(f"  {n}: {mark}")
    if violations:
        print(
            f"ERROR: {len(violations)} changed quer{'y' if len(violations)==1 else 'ies'} "
            f"outside the 50-row gate prefix: {violations}"
        )
        return 1
    print("gate prefix OK: all changed queries inside the driver-checked prefix")
    return 0


if __name__ == "__main__":
    sys.exit(main())
