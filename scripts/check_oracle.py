"""Local replica of the driver's correctness gate: run every queries()
entry on Spark AND its oracle_sql() on DuckDB over the same sf dir, compare
row count + column names + order-insensitive values, AND pandas dtypes.

The dtype leg exists because the driver hashes TYPED values after
materializing both sides to pandas: a DuckDB HUGEINT (int128, from an
uncast sum()/arithmetic widening) canonicalizes to the same string as
Spark's BIGINT but hashes differently (q_data_quality, round 4;
q_row_cluster, round 2).  Comparing the pandas dtype kind+size per
column catches that drift locally before the driver does.

Usage: python scripts/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import sys

import duckdb

sys.path.insert(0, ".")


def canon_cell(v) -> str:
    if v is None:
        return "\x00NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.10g}"
    return str(v)


def dtype_key(dt, series):
    """Collapse a pandas dtype (plus object-column contents) to the
    equivalence key the typed comparison uses.  int64 != float64 !=
    object-of-python-ints — the three ways an int128-widened oracle
    column can materialize."""
    import numpy as np

    k = getattr(dt, "kind", "O")
    # width is deliberately IGNORED: the driver hash was green on
    # int32-vs-int64 columns (q_sort_rank, q_token_count, r01/r02) and
    # only ever failed on KIND drift (int vs float/object — the HUGEINT
    # materializations).  Matching the driver's observed sensitivity
    # keeps this gate free of false FAILs.
    if k in "iu":
        return ("int",)
    if k == "f":
        return ("float",)
    if k == "b":
        return ("bool",)
    if k in "mM":
        return ("time", k)
    for v in series:
        if v is None or (isinstance(v, float) and math.isnan(v)):
            continue
        if isinstance(v, (list, tuple, np.ndarray)):
            return ("obj", "seq")
        if isinstance(v, bool):
            return ("obj", "bool")
        if isinstance(v, (int, np.integer)):
            return ("obj", "int")
        if isinstance(v, (float, np.floating)):
            return ("obj", "float")
        if isinstance(v, (bytes, bytearray)):
            return ("obj", "bytes")
        if isinstance(v, str):
            return ("obj", "str")
        return ("obj", type(v).__name__)
    return ("obj", "allnull")


def canon_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        out.append("\x01".join(canon_cell(r[i]) for i in order))
    out.sort()
    return out


def check_query(name, spec, spark, sf_dir, con) -> bool:
    """Run one query on Spark and its oracle on DuckDB and print the
    verdict.  The Spark frame, and the cached intermediates it holds,
    are released when this returns."""
    try:
        sdf = spec.spark(spark, sf_dir)
        s_cols = [c.lower() for c in sdf.columns]
        s_rows = [tuple(r) for r in sdf.collect()]
    except Exception as e:
        print(f"{name}: SPARK ERROR: {str(e).splitlines()[0][:200]}")
        return False
    if spec.oracle is None:
        print(f"{name}: rows-only ({len(s_rows)} rows, no oracle)")
        return True
    try:
        res = con.execute(spec.oracle)
        d_cols = [d[0].lower() for d in res.description]
        d_rows = res.fetchall()
    except Exception as e:
        print(f"{name}: DUCK ERROR: {str(e).splitlines()[0][:200]}")
        return False
    problems = []
    if sorted(s_cols) != sorted(d_cols):
        problems.append(f"cols spark={sorted(s_cols)} duck={sorted(d_cols)}")
    if len(s_rows) != len(d_rows):
        problems.append(f"rowcount spark={len(s_rows)} duck={len(d_rows)}")
    if not problems:
        cs = canon_rows(s_cols, s_rows)
        cd = canon_rows(d_cols, d_rows)
        if cs != cd:
            diff = [(a, b) for a, b in zip(cs, cd) if a != b][:3]
            problems.append(f"values differ, first diffs: {diff}")
    if not problems:
        # Typed leg: materialize both sides to pandas the way the
        # driver does and compare dtype kind+size per column.  An
        # uncast DuckDB HUGEINT shows up here as object/float vs
        # Spark's int64 even when every canonical string matches.
        try:
            pdf_s = sdf.toPandas()
            pdf_s.columns = [c.lower() for c in pdf_s.columns]
            pdf_d = con.execute(spec.oracle).df()
            pdf_d.columns = [c.lower() for c in pdf_d.columns]
            for c in sorted(set(pdf_s.columns) & set(pdf_d.columns)):
                ks, kd = pdf_s[c].dtype, pdf_d[c].dtype
                if dtype_key(ks, pdf_s[c]) != dtype_key(kd, pdf_d[c]):
                    problems.append(f"dtype[{c}] spark={ks} duck={kd}")
        except Exception as e:  # pragma: no cover - diagnostic only
            problems.append(f"dtype check errored: {str(e).splitlines()[0][:200]}")
    if problems:
        print(f"{name}: FAIL — " + "; ".join(problems))
        return False
    print(f"{name}: OK ({len(s_rows)} rows)")
    return True


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    from bsc_project_spark.queries import TABLES, all_queries
    from bsc_project_spark.pipeline.session import get_spark

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    spark = get_spark("check-oracle")
    queries = all_queries()
    failures = []
    for name, spec in sorted(queries.items()):
        if only and name not in only:
            continue
        if not check_query(name, spec, spark, sf_dir, con):
            failures.append(name)
    spark.stop()
    print()
    if failures:
        print(f"FAILURES ({len(failures)}): {failures}")
        return 1
    print("ALL ORACLE CHECKS PASSED")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
