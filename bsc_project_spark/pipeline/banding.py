"""Banded near-duplicate candidate pairs: the one self-join behind every
banded-hash dedup (pHash, SimHash, MinHash-LSH, embedding LSH)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def banded_pairs(frame: DataFrame, key: str, bands: list[str]) -> DataFrame:
    """Every unordered pair of ``frame`` rows that agree on at least one
    band, each pair once.

    ``bands`` are SQL expressions over ``frame``'s columns, all of one
    type; ``frame`` holds one row per ``key``.  Each band value is
    computed once as a column, the values are stacked into (band, bval)
    rows, and the rows are equi-joined on (band, bval) with
    ``a.key < b.key`` — never an all-pairs product.

    Dedup by construction, not by shuffle: a pair agreeing in m bands
    meets m times in the join, and identical rows agree in EVERY band, so
    a DISTINCT or GROUP BY after the join would shuffle up to
    ``len(bands)`` x the pair volume just to throw most of it away.  The
    join instead keeps a pair only on its FIRST matching band: the
    residual requires each earlier band not to match,
    ``NOT coalesce(a._bj = b._bj, false)`` — a NULL band value never
    joined, so it must not drop the pair either.

    Returns struct columns ``a`` and ``b``, each one side's full row, so
    callers write their exact verify on the pair row
    (``bit_count(a.phash ^ b.phash)``, a cosine over ``a.v`` and ``b.v``)
    with no re-join."""
    vals = [f"_b{j}" for j in range(len(bands))]
    stack = ", ".join(f"{j}, {v}" for j, v in enumerate(vals))
    rows = frame.select(
        F.struct(*frame.columns).alias("_row"),
        *(F.expr(e).alias(v) for e, v in zip(bands, vals)),
    ).selectExpr("*", f"stack({len(vals)}, {stack}) AS (_band, _bval)")
    cond = [
        "a._band = b._band",
        "a._bval = b._bval",
        f"a._row.{key} < b._row.{key}",
    ] + [
        f"(a._band <= {j} OR NOT coalesce(a.{v} = b.{v}, false))"
        for j, v in enumerate(vals[:-1])
    ]
    return rows.alias("a").join(rows.alias("b"), F.expr(" AND ".join(cond))).select(
        F.col("a._row").alias("a"), F.col("b._row").alias("b")
    )
