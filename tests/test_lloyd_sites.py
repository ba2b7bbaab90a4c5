"""k-means is trained one way: ``lloyd_assign``'s two routes.  The numpy
and the distributed route are called only from ``lloyd_assign``, and the
removed float k-means, per-call ceiling override and inlined-literal route
may not come back under ``bsc_project_spark/``."""

import ast
from pathlib import Path

PKG_DIR = Path(__file__).resolve().parent.parent / "bsc_project_spark"
ROUTES = {"_lloyd_np_fn", "_lloyd_assign_frames"}
OWNER = "lloyd_assign"


def _called_name(call: ast.Call) -> str | None:
    f = call.func
    if isinstance(f, ast.Name):
        return f.id
    if isinstance(f, ast.Attribute):
        return f.attr
    return None


def test_lloyd_routes_are_called_only_from_lloyd_assign():
    offenders, callers = [], set()
    owners = 0
    for path in sorted(PKG_DIR.rglob("*.py")):
        tree = ast.parse(path.read_text())
        allowed_lines: set[int] = set()
        for node in ast.walk(tree):
            if isinstance(node, ast.FunctionDef) and node.name == OWNER:
                owners += 1
                allowed_lines.update(range(node.lineno, node.end_lineno + 1))
        for node in ast.walk(tree):
            if isinstance(node, ast.Call) and _called_name(node) in ROUTES:
                callers.add(_called_name(node))
                if node.lineno not in allowed_lines:
                    rel = path.relative_to(PKG_DIR)
                    offenders.append(f"{rel}:{node.lineno}: {_called_name(node)}(")
    assert owners == 1, f"expected one {OWNER}, found {owners}"
    assert callers == ROUTES, sorted(callers)
    assert not offenders, "\n".join(offenders)


def test_removed_kmeans_paths_stay_removed():
    banned = ["kmeans_refine", "driver_state_max", "_lit_d"]
    hits = [
        f"{path.relative_to(PKG_DIR)}:{i}: {word}"
        for path in sorted(PKG_DIR.rglob("*.py"))
        for i, line in enumerate(path.read_text().splitlines(), 1)
        for word in banned
        if word in line
    ]
    assert not hits, "\n".join(hits)
