"""Every driver-side collect and every broadcast hint under
``bsc_project_spark/`` is listed here with its bound.

Size-selected routes compare a count they already hold against one
budget, ``config.DRIVER_STATE_BYTES``, read at call time.  Broadcast joins
are otherwise left to Spark's ``autoBroadcastJoinThreshold``: a hint
stays only where removing it changed a plan.  A new ``F.broadcast(``,
``/*+ BROADCAST`` hint, ``.collect()`` or ``.toPandas()`` fails this test
until it is listed with its bound (or "unbounded" and a FOUND line in
CHANGES.md)."""

import ast
from collections import Counter
from pathlib import Path

PKG_DIR = Path(__file__).resolve().parent.parent / "bsc_project_spark"

BCAST, SQL_BCAST, COLLECT, TO_PANDAS = "F.broadcast(", "/*+ BROADCAST", ".collect()", ".toPandas()"

# (module, function, site kind, bound), one entry per site.  Each kept
# hint changed a plan when removed (createDataFrame frames, whose plan
# statistics read Long.MaxValue, or a build side Spark would pick
# differently); "unbounded" ones have a FOUND line in CHANGES.md.
SITES = [
    ("pipeline/extract.py", "run_page_stage", BCAST,
     "the refs semi-joined to media, so page bytes never shuffle: one "
     "media_ref row per (document, page) citation of the call, "
     "deduplicated within each document but not across documents; "
     "run_extraction_job bounds it per page bucket"),
    ("pipeline/extract.py", "run_page_stage", COLLECT,
     "one (media_ref, sz) row per unique page of the call: no larger "
     "than the refs broadcast the driver already holds"),
    ("pipeline/extract.py", "run_page_stage", BCAST,
     "the driver-dealt bins: the pages of the collect above"),
    ("queries/__init__.py", "temp_views", COLLECT,
     "SHOW VIEWS: the session's temp views"),
    ("queries/eventops.py", "_segment_revenue_spark", BCAST,
     "orders before 1998 x BUILDING customers: unbounded (fact-sized)"),
    ("queries/eventops.py", "_regional_revenue_spark", BCAST,
     "orders since 1996 x customer: unbounded (fact-sized)"),
    ("queries/graphops.py", "_link_graph", COLLECT, "one aggregate row"),
    ("queries/maintenance.py", "_vocab_growth_spark", BCAST, "at most 10 deciles"),
    ("queries/maintenance.py", "_vocab_growth_spark", BCAST, "10 deciles"),
    ("queries/prefix.py", "global_cumsum", COLLECT,
     "one row per range partition (the session's parallelism, at least 8)"),
    ("queries/similarity.py", "lloyd_assign", COLLECT,
     "64 buckets of at most k seeds; k*d*8 within config.DRIVER_STATE_BYTES"),
    ("queries/similarity.py", "lloyd_assign", COLLECT,
     "k*d partial sums; k*d*8 within config.DRIVER_STATE_BYTES"),
    ("queries/textops.py", "connected_components", TO_PANDAS,
     "n_pairs*16 within config.DRIVER_STATE_BYTES, counted first"),
    ("streaming/ingest.py", "ingest_sink.sink", COLLECT,
     "the batch's distinct doc buckets: at most n_buckets"),
]


def _sites(path: Path) -> list[tuple[str, str]]:
    """(qualified function, kind) of every listed kind of site in a module."""
    out = []

    def visit(node, stack):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                visit(child, [*stack, child.name])
                continue
            where = ".".join(stack)
            if isinstance(child, ast.Call) and isinstance(child.func, ast.Attribute):
                attr, value = child.func.attr, child.func.value
                if attr == "broadcast" and isinstance(value, ast.Name) and value.id == "F":
                    out.append((where, BCAST))
                elif attr == "collect" and not child.args:
                    out.append((where, COLLECT))
                elif attr == "toPandas":
                    out.append((where, TO_PANDAS))
            elif isinstance(child, ast.Constant) and isinstance(child.value, str):
                out.extend((where, SQL_BCAST) for _ in range(child.value.count(SQL_BCAST)))
            visit(child, stack)

    visit(ast.parse(path.read_text()), [])
    return out


def test_every_collect_and_broadcast_hint_is_listed():
    found = Counter(
        (str(path.relative_to(PKG_DIR)), fn, kind)
        for path in sorted(PKG_DIR.rglob("*.py"))
        for fn, kind in _sites(path)
    )
    listed = Counter((mod, fn, kind) for mod, fn, kind, _ in SITES)
    unlisted = found - listed
    stale = listed - found
    assert not unlisted, f"unlisted sites (add each with its bound): {sorted(unlisted.elements())}"
    assert not stale, f"listed sites that are gone: {sorted(stale.elements())}"


def test_one_driver_budget_read_at_call_time():
    """The removed per-module ceilings stay removed, and no module binds
    ``DRIVER_STATE_BYTES`` at import: a patched budget must reach every
    size-selected route."""
    banned = ["_PAGERANK_EDGES_MAX", "_CC_DRIVER_EDGE_BUDGET", "_LLOYD_DRIVER_STATE_MAX"]
    hits, readers = [], set()
    for path in sorted(PKG_DIR.rglob("*.py")):
        rel = str(path.relative_to(PKG_DIR))
        text = path.read_text()
        hits += [f"{rel}: {word}" for word in banned if word in text]
        for node in ast.walk(ast.parse(text)):
            if isinstance(node, ast.ImportFrom) and any(
                a.name == "DRIVER_STATE_BYTES" for a in node.names
            ):
                hits.append(f"{rel}:{node.lineno}: from-import of DRIVER_STATE_BYTES")
            if isinstance(node, ast.Attribute) and node.attr == "DRIVER_STATE_BYTES":
                readers.add(rel)
    assert not hits, "\n".join(hits)
    assert readers == {
        "queries/graphops.py", "queries/similarity.py", "queries/textops.py",
    }
