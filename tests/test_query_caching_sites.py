"""The registry holds intermediates one way: ``materialize`` (released
with the query's result) and scoped ``spark.sql(text, name=frame)``
arguments.  No other persist, cache, local checkpoint or named temp view
may appear under ``bsc_project_spark/queries/``."""

import ast
import re
from pathlib import Path

QUERIES_DIR = Path(__file__).resolve().parent.parent / "bsc_project_spark" / "queries"
ALLOWED = {"register_views", "materialize"}
PATTERN = re.compile(r"\.persist\(|\.cache\(|localCheckpoint\(|createOrReplaceTempView\(")


def test_no_adhoc_caching_under_queries():
    offenders = []
    for path in sorted(QUERIES_DIR.glob("*.py")):
        text = path.read_text()
        allowed_lines = set()
        for node in ast.walk(ast.parse(text)):
            if isinstance(node, ast.FunctionDef) and node.name in ALLOWED:
                allowed_lines.update(range(node.lineno, node.end_lineno + 1))
        for i, line in enumerate(text.splitlines(), 1):
            if PATTERN.search(line) and i not in allowed_lines:
                offenders.append(f"{path.name}:{i}: {line.strip()}")
    assert not offenders, "\n".join(offenders)
