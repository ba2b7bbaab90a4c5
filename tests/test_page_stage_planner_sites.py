"""The page stage is planned one way: ``run_page_stage`` sizes the pages
and routes them into bins dealt on the driver.  No other code under
``bsc_project_spark/`` may call the bin planners, and no second planner
route or its switch may come back: not the per-call ``assume_bounded``,
the ``driver_plan_max`` ceiling, the ``salt_partitions`` width, the
distributed ``assign_size_bins`` nor the driver-side Murmur3 copy whose
tokens routed bins before ``repartitionById``."""

import ast
from pathlib import Path

PKG_DIR = Path(__file__).resolve().parent.parent / "bsc_project_spark"
PLANNERS = {"serpentine_bins", "repartition_by_size", "_bins_local_df"}
OWNER = "run_page_stage"
REMOVED_NAMES = (
    "assume_bounded", "driver_plan_max", "salt_partitions", "assign_size_bins",
    "_murmur3_int32", "_partition_tokens",
)


def _called_name(call: ast.Call) -> str | None:
    f = call.func
    if isinstance(f, ast.Name):
        return f.id
    if isinstance(f, ast.Attribute):
        return f.attr
    return None


def test_bin_planners_are_called_only_from_run_page_stage():
    offenders = []
    owners = 0
    for path in sorted(PKG_DIR.rglob("*.py")):
        tree = ast.parse(path.read_text())
        allowed_lines: set[int] = set()
        for node in ast.walk(tree):
            if isinstance(node, ast.FunctionDef) and node.name == OWNER:
                owners += 1
                allowed_lines.update(range(node.lineno, node.end_lineno + 1))
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and _called_name(node) in PLANNERS
                and node.lineno not in allowed_lines
            ):
                rel = path.relative_to(PKG_DIR)
                offenders.append(f"{rel}:{node.lineno}: {_called_name(node)}(")
    assert owners == 1, f"expected one {OWNER}, found {owners}"
    assert not offenders, "\n".join(offenders)


def test_no_assume_bounded_switch():
    hits = [
        f"{path.relative_to(PKG_DIR)}:{i}"
        for path in sorted(PKG_DIR.rglob("*.py"))
        for i, line in enumerate(path.read_text().splitlines(), 1)
        if any(name in line for name in REMOVED_NAMES)
    ]
    assert not hits, "\n".join(hits)
