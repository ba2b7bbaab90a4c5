"""The snapshot table has one commit protocol: ``_commit_manifest`` is the
only code under ``bsc_project_spark/`` that creates files under
``snapshots/``, no current-state pointer file or DSv2 sink writes table
state beside it, and the removed second connected-components operator and
bucketing module may not come back.  It has one reader too: only
``_read`` reads the table's parquet files, under their pinned schema."""

import ast
from pathlib import Path

PKG_DIR = Path(__file__).resolve().parent.parent / "bsc_project_spark"
OWNER = "_commit_manifest"
SNAPSHOT_HELPERS = {"_snapshots_dir", "_snapshot_path"}
# calls that create a file or directory, or put one in place
CREATING = {
    "link", "symlink", "replace", "rename", "copy", "copy2", "copyfile", "move",
    "write_text", "write_bytes", "makedirs", "mkdir",
}


def _called_name(call: ast.Call) -> str | None:
    f = call.func
    if isinstance(f, ast.Name):
        return f.id
    if isinstance(f, ast.Attribute):
        return f.attr
    return None


def _creates(call: ast.Call) -> bool:
    name = _called_name(call)
    if name in CREATING:
        return True
    if name != "open":
        return False
    modes = [a for a in call.args[1:2]] + [k.value for k in call.keywords if k.arg == "mode"]
    return any(
        isinstance(m, ast.Constant) and isinstance(m.value, str) and set(m.value) & set("wxa+")
        for m in modes
    )


def _functions(tree):
    return [n for n in ast.walk(tree) if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))]


def test_only_commit_manifest_creates_files_under_snapshots():
    literal_sites, writers = [], set()
    for path in sorted(PKG_DIR.rglob("*.py")):
        tree = ast.parse(path.read_text())
        rel = path.relative_to(PKG_DIR)
        for fn in _functions(tree):
            calls = [n for n in ast.walk(fn) if isinstance(n, ast.Call)]
            literals = [
                n for n in ast.walk(fn)
                if isinstance(n, ast.Constant) and isinstance(n.value, str)
                and "snapshots" in n.value.split("/")
            ]
            if literals and fn.name != "_snapshots_dir":
                literal_sites.append(f"{rel}:{fn.lineno}: {fn.name}")
            if any(_called_name(c) in SNAPSHOT_HELPERS for c in calls) and any(
                _creates(c) for c in calls
            ):
                writers.add(f"{rel}::{fn.name}")
    # every snapshots/ path goes through the helpers ...
    assert not literal_sites, "\n".join(literal_sites)
    # ... and only the commit function both names one and creates a file
    assert writers == {f"pipeline/checkpoint.py::{OWNER}"}, sorted(writers)


def test_removed_protocols_and_operators_stay_removed():
    banned = ["_manifest.json", "DataSourceWriter", "connected_components_star", "bucketing"]
    hits = [
        f"{path.relative_to(PKG_DIR)}:{i}: {word}"
        for path in sorted(PKG_DIR.rglob("*.py"))
        for i, line in enumerate(path.read_text().splitlines(), 1)
        for word in banned
        if word in line
    ]
    assert not hits, "\n".join(hits)
    assert not (PKG_DIR / "sources" / "manifest_sink.py").exists()
    assert not (PKG_DIR / "pipeline" / "bucketing.py").exists()


def _reads_parquet(call: ast.Call) -> bool:
    """``<...>.read<...>.parquet(...)``: a parquet read through a
    session's ``read`` (writes go through ``.write``)."""
    f = call.func
    if not (isinstance(f, ast.Attribute) and f.attr == "parquet"):
        return False
    node = f.value
    while isinstance(node, (ast.Call, ast.Attribute)):
        if isinstance(node, ast.Attribute) and node.attr == "read":
            return True
        node = node.func if isinstance(node, ast.Call) else node.value
    return False


def test_checkpoint_reads_parquet_only_through_read():
    tree = ast.parse((PKG_DIR / "pipeline" / "checkpoint.py").read_text())
    readers = {
        fn.name
        for fn in _functions(tree)
        for call in ast.walk(fn)
        if isinstance(call, ast.Call) and _reads_parquet(call)
    }
    assert readers == {"_read"}, sorted(readers)
