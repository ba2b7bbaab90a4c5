"""Size-aware bin-packing page distribution (pipeline/extract.py).

Round-robin balances page COUNTS; these tests pin the size-aware path:
near-LPT byte balance per partition, exact bin->partition routing, and
degeneration to round-robin striping on uniform sizes.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bsc_project_spark.pipeline.extract import (
    _bins_local_df,
    repartition_by_size,
    serpentine_bins,
)


def _length_bins(pages, n):
    """Driver-dealt bins over the pages' byte lengths."""
    sizes = pages.select("media_ref", F.length("content").alias("sz")).collect()
    return _bins_local_df(pages.sparkSession, serpentine_bins(sizes, n))


def test_repartition_by_size_places_each_bin_on_its_partition(spark):
    """One page per bin through the real shuffle: every row lands on the
    partition its bin names, over n partitions — the invariant the
    serpentine bin routing relies on."""
    for n in (2, 3, 8, 13, 32):
        pages = spark.createDataFrame(
            [(f"p{b:02d}", bytes([b])) for b in range(n)],
            "media_ref string, content binary",
        )
        bins = _bins_local_df(spark, [(f"p{b:02d}", b) for b in range(n)])
        routed = repartition_by_size(pages, bins, n)
        assert routed.rdd.getNumPartitions() == n
        placed = routed.selectExpr(
            "CAST(substr(media_ref, 2) AS INT) AS bin", "spark_partition_id() AS pid"
        ).collect()
        assert sorted(placed) == [(b, b) for b in range(n)], n


def test_serpentine_bins_balances_skewed_sizes():
    # pathological mix: a few giant pages + a long tail of small ones
    sizes = [(f"p{i:03d}", 1_000_000 if i < 4 else 10_000 + i) for i in range(64)]
    bins = dict(serpentine_bins(sizes, 8))
    assert sorted(bins) == [ref for ref, _ in sizes]
    loads, counts = [0] * 8, [0] * 8
    for ref, sz in sizes:
        loads[bins[ref]] += sz
        counts[bins[ref]] += 1
    # every bin got one giant OR only-small pages; serpentine keeps the
    # byte spread tight: max load within 2x of mean (round-robin by
    # insertion order could stack all 4 giants into adjacent bins)
    assert max(loads) <= 2.0 * (sum(loads) / len(loads))
    # count balance is preserved too (64 pages / 8 bins)
    assert set(counts) == {8}


def test_serpentine_bins_uniform_is_round_robin():
    bins = serpentine_bins([(f"p{i:02d}", 100) for i in range(16)], 4)
    # uniform sizes: ties broken by media_ref; serpentine deals 0123 3210 ...
    assert [b for _, b in sorted(bins)] == [0, 1, 2, 3, 3, 2, 1, 0, 0, 1, 2, 3, 3, 2, 1, 0]


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


def test_flagship_job_has_no_single_partition_exchange(spark):
    """The bins are dealt on the driver at build time, so the flagship
    extraction plan has no planning window at all (a global
    Window.orderBy(sz) would be a single-task stage): the WHOLE physical
    plan — scan, media shuffle, UDF stage, doc reassembly — must contain
    zero SinglePartition exchanges."""
    import __spark_entry__ as e

    plan = (
        e.entry(spark)._jdf.queryExecution().executedPlan().toString()
    )
    assert "SinglePartition" not in plan


def test_bins_local_df_round_trips_a_big_list(spark):
    """Above 65,536 bins the VALUES literal gives way to createDataFrame;
    refs with backslashes and quotes must come back exactly there too."""
    odd = ["a\\b", "c'd", "e\"f", "g\\", "\\'", "h''i"]
    data = [(f"p{i:05d}", i % 8) for i in range(65537 - len(odd))]
    data += [(ref, 7) for ref in odd]
    got = _bins_local_df(spark, data).collect()
    assert sorted(map(tuple, got)) == sorted(data)
