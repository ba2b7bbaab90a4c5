"""Size-aware bin-packing page distribution (pipeline/extract.py).

Round-robin balances page COUNTS; these tests pin the size-aware path:
near-LPT byte balance per partition, exact bin->partition routing, and
degeneration to round-robin striping on uniform sizes.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bsc_project_spark.pipeline.extract import (
    _partition_tokens,
    assign_size_bins,
    repartition_by_size,
    serpentine_bins,
)


def _length_bins(pages, n):
    """Two-phase bins over the pages' byte lengths."""
    return assign_size_bins(
        pages.select("media_ref", F.length("content").alias("sz")), n
    )


def test_partition_tokens_route_exactly(spark):
    for n in (3, 8, 13):
        tokens = _partition_tokens(spark, n)
        assert len(tokens) == n
        got = (
            spark.createDataFrame([(t,) for t in tokens], "v int")
            .select(F.pmod(F.hash("v"), F.lit(n)).alias("p"))
            .collect()
        )
        assert sorted(r.p for r in got) == list(range(n))


def test_assign_size_bins_balances_skewed_sizes(spark):
    # pathological mix: a few giant pages + a long tail of small ones
    sizes = [(f"p{i:03d}", 1_000_000 if i < 4 else 10_000 + i) for i in range(64)]
    df = spark.createDataFrame(sizes, "media_ref string, sz long")
    bins = assign_size_bins(df, 8).join(df, "media_ref")
    per_bin = (
        bins.groupBy("bin").agg(F.sum("sz").alias("b"), F.count("*").alias("n")).collect()
    )
    assert len(per_bin) == 8
    loads = [r.b for r in per_bin]
    # every bin got one giant OR only-small pages; serpentine keeps the
    # byte spread tight: max load within 2x of mean (round-robin by
    # insertion order could stack all 4 giants into adjacent bins)
    assert max(loads) <= 2.0 * (sum(loads) / len(loads))
    # count balance is preserved too (64 pages / 8 bins)
    assert {r.n for r in per_bin} == {8}


def test_assign_size_bins_uniform_is_round_robin(spark):
    df = spark.createDataFrame(
        [(f"p{i:02d}", 100) for i in range(16)], "media_ref string, sz long"
    )
    rows = assign_size_bins(df, 4).orderBy("media_ref").collect()
    # uniform sizes: ties broken by media_ref; serpentine deals 0123 3210 ...
    assert [r.bin for r in rows] == [0, 1, 2, 3, 3, 2, 1, 0, 0, 1, 2, 3, 3, 2, 1, 0]


def test_repartition_by_size_byte_balance(spark):
    # giant pages (1 MB) among small (1 KB): partition byte loads must be
    # near-equal, which round-robin by count cannot guarantee
    rows = [
        (f"p{i:03d}", bytes([i % 251]) * (1_000_000 if i % 8 == 0 else 1_000))
        for i in range(32)
    ]
    pages = spark.createDataFrame(rows, "media_ref string, content binary")
    routed = repartition_by_size(pages, _length_bins(pages, 4), 4)
    per_part = (
        routed.select(
            F.spark_partition_id().alias("pid"), F.length("content").alias("sz")
        )
        .groupBy("pid")
        .agg(F.sum("sz").alias("b"))
        .collect()
    )
    assert len(per_part) == 4
    loads = [r.b for r in per_part]
    mean = sum(loads) / len(loads)
    assert max(loads) <= 1.5 * mean
    # no page lost or duplicated by the routing join
    assert routed.count() == 32
    assert routed.select("media_ref").distinct().count() == 32


def test_repartition_by_size_handles_fewer_pages_than_bins(spark):
    pages = spark.createDataFrame(
        [("a", b"xx"), ("b", b"yyyy")], "media_ref string, content binary"
    )
    routed = repartition_by_size(pages, _length_bins(pages, 8), 8)
    assert routed.count() == 2
    assert routed.rdd.getNumPartitions() == 8


def test_murmur3_int32_matches_spark_hash(spark):
    """_partition_tokens inverts HashPartitioning driver-side; its
    Murmur3 must be bit-identical to the engine's F.hash on ints,
    including negatives and both int32 extremes."""
    import pyspark.sql.functions as F

    from bsc_project_spark.pipeline.extract import _murmur3_int32

    vals = list(range(0, 512)) + [-1, -123456, 2**31 - 1, -(2**31)]
    df = spark.createDataFrame([(v,) for v in vals], "v int")
    got = {r.v: r.h for r in df.select("v", F.hash("v").alias("h")).collect()}
    for v in vals:
        assert _murmur3_int32(v & 0xFFFFFFFF) == got[v], v


def test_partition_tokens_route_exactly(spark):
    """Every token must actually land in its own shuffle partition under
    repartition(n, token) — the invariant the serpentine bin routing
    relies on."""
    import pyspark.sql.functions as F

    from bsc_project_spark.pipeline.extract import _partition_tokens

    for n in (2, 8, 32):
        toks = _partition_tokens(spark, n)
        assert len(toks) == n and len(set(toks)) == n
        df = spark.createDataFrame([(t,) for t in toks], "t int")
        placed = {
            r.p: r.t
            for r in df.select("t", F.pmod(F.hash("t"), F.lit(n)).alias("p")).collect()
        }
        assert placed == {b: toks[b] for b in range(n)}


def test_flagship_job_has_no_single_partition_exchange(spark):
    """Round-3 review: the size-bin planner was the last single-task
    stage in the flagship extraction job (a global Window.orderBy(sz)
    over skinny rows).  It is now two-phased through
    queries/prefix.global_row_number; the WHOLE flagship physical plan —
    scan, planning branch, media shuffle, UDF stage, doc reassembly —
    must contain zero SinglePartition exchanges."""
    import __spark_entry__ as e

    plan = (
        e.entry(spark)._jdf.queryExecution().executedPlan().toString()
    )
    assert "SinglePartition" not in plan


def test_assign_size_bins_fallback_is_two_phase_and_agrees(spark):
    """The distributed planner: its plan is a range exchange + partitioned
    window + broadcast offsets — never a global-order (unpartitioned)
    window — and its serpentine assignment is row-identical to the driver
    route's serpentine_bins on the collected rows."""
    df = spark.range(0, 500).selectExpr(
        "concat('p', id) AS media_ref", "(id * 7919) % 4096 + 1 AS sz"
    )
    fallback = assign_size_bins(df, 8)
    plan = fallback._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan
    assert "rangepartitioning" in plan

    driver = serpentine_bins([(r.media_ref, r.sz) for r in df.collect()], 8)
    assert sorted(map(tuple, fallback.collect())) == sorted(driver)
