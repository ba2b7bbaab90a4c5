"""Two-phase global prefix sums — the scale-safe replacement for
``SUM(...) OVER (ORDER BY ...)`` with no PARTITION BY.

A global-order window moves the entire table through ONE task (Spark
itself warns "No Partition Defined for Window operation"), which is a
scale wall at 10^12 rows.  The standard fix, already proven by
``q_sort_rank`` (relational.py), generalizes to any running aggregate:

1. range-partition on the order key (contiguous key ranges per
   partition — Spark samples the boundaries),
2. run the window WITHIN each range partition (parallel over P),
3. aggregate one subtotal per partition, prefix-sum those P numbers on
   the driver, and broadcast the per-partition offsets back.

Global prefix = partition offset + local prefix.  Only skinny columns
shuffle; the driver folds P integers no matter the table size.  The
result is EXACT (not approximate) and independent of where the sampled
range boundaries fall, provided the order key is a total order (unique
key tuples) — with duplicate keys the ROWS-frame running sum is
order-ambiguous in plain SQL too.

Reference analogue: the global row order of the merged matrix assembly,
/root/reference/scripts/imgs2csv.py:320-357.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_PID = "_pp_pid"
_LOCAL = "_pp_local"
_OFF = "_pp_off"


def global_cumsum(
    df: DataFrame,
    order_cols: list[str],
    value_col: str,
    out_col: str,
    n_parts: int | None = None,
) -> DataFrame:
    """Append ``out_col`` = running SUM(``value_col``) over the global
    ORDER BY ``order_cols`` (ROWS UNBOUNDED PRECEDING .. CURRENT ROW),
    computed with the two-phase plan above — no single-task window.

    ``order_cols`` must form a total order (unique tuples).  The output
    column is BIGINT.  NULLs sort last, the oracle engine's ORDER BY
    default (Spark's ascending default is NULLS FIRST).

    The subtotal job and the final plan must agree on the ranges, but a
    second range exchange would re-sample its boundaries.  So the
    subtotal job also returns each range's smallest key, and the final
    plan routes every row to the last range whose smallest key it
    reaches: the same ranges, with nothing cached (a persisted input
    would stay pinned in the session, since the result is lazy).
    """
    spark = df.sparkSession
    if n_parts is None:
        n_parts = max(spark.sparkContext.defaultParallelism, 8)
    keys = [F.col(c).asc_nulls_last() for c in order_cols]
    # struct ordering is lexicographic with NULL fields first, so the
    # (is NULL, value) pair per column orders exactly like ``keys``
    fields = [(f"_n{i}", f"_v{i}", c) for i, c in enumerate(order_cols)]
    skey = F.struct(
        *[e for n, v, c in fields for e in (F.isnull(c).alias(n), F.col(c).alias(v))]
    )
    # range partition ids follow key order, so sorting by id sorts ranges
    ranges = sorted(
        (r[_PID], r.lo, int(r.s or 0))
        for r in df.repartitionByRange(n_parts, *keys)
        .groupBy(F.spark_partition_id().alias(_PID))
        .agg(
            F.min(skey).alias("lo"),
            F.sum(F.col(value_col).cast("long")).alias("s"),
        )
        .collect()
    )
    if not ranges:  # empty input: VALUES with no tuples is a parse error
        return df.withColumn(out_col, F.lit(None).cast("long")).where(F.lit(False))
    types = {c: df.schema[c].dataType for c in order_cols}

    def lit_key(lo) -> Column:
        return F.struct(
            *[
                e
                for n, v, c in fields
                for e in (F.lit(lo[n]).alias(n), F.lit(lo[v]).cast(types[c]).alias(v))
            ]
        )

    pid = sum(
        (F.when(skey >= lit_key(lo), 1).otherwise(0) for _, lo, _ in ranges[1:]),
        F.lit(0),
    )
    offsets, acc = [], 0
    for i, (_, _, s) in enumerate(ranges):
        offsets.append((i, acc))
        acc += s
    local = F.sum(F.col(value_col).cast("long")).over(
        Window.partitionBy(_PID)
        .orderBy(*keys)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # inline VALUES, not createDataFrame: a Python-list createDataFrame
    # plans as a pickled-RDD scan (defaultParallelism tasks + Python
    # worker cold start for a P-row frame); a VALUES literal is a
    # LocalRelation Catalyst folds straight into the broadcast
    values = ", ".join(f"({i}, {off}L)" for i, off in offsets)
    off_df = spark.sql(f"SELECT * FROM VALUES {values} AS t({_PID}, {_OFF})")
    # range-partitioning the small-int range id gives each range its own
    # task (a hash on it could collide) and already clusters the window
    return (
        df.withColumn(_PID, pid)
        .repartitionByRange(len(ranges), _PID)
        .withColumn(_LOCAL, local)
        .join(off_df, _PID)
        .withColumn(out_col, (F.col(_OFF) + F.col(_LOCAL)).cast("long"))
        .drop(_PID, _LOCAL, _OFF)
    )


def global_row_number(
    df: DataFrame,
    order_cols: list[str],
    out_col: str,
    n_parts: int | None = None,
) -> DataFrame:
    """Global ``row_number() OVER (ORDER BY order_cols)`` via the same
    two-phase plan (a row number is the running sum of 1s)."""
    counted = global_cumsum(
        df.withColumn("_pp_one", F.lit(1)), order_cols, "_pp_one", out_col, n_parts
    )
    return counted.drop("_pp_one")
