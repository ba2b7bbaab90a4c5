"""Physical-plan hygiene: pushdown, pruning, broadcast, no row-Python."""

import os
import re

from pyspark.sql import functions as F

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


def test_filter_and_projection_pushdown(spark):
    df = (
        spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        .filter(F.col("l_quantity") > 40)
        .select("l_orderkey", "l_quantity")
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,40.0)" in plan
    # column pruning: scan schema carries only the two referenced columns
    assert "l_extendedprice" not in plan.split("ReadSchema")[1][:300]


def test_broadcast_join_for_small_dim(spark):
    nation = spark.read.parquet(f"{SF_DIR}/nation.parquet")
    customer = spark.read.parquet(f"{SF_DIR}/customer.parquet")
    joined = customer.join(nation, customer.c_nationkey == nation.n_nationkey)
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_queries_have_no_row_python_udfs(spark):
    from bsc_project_spark.queries import all_queries

    for name, spec in all_queries().items():
        plan = spec.spark(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
        assert "BatchEvalPython" not in plan, f"{name} uses a row-at-a-time Python UDF"


def test_segment_revenue_broadcasts_dims(spark):
    """The fact (lineitem) side must never shuffle for the dim joins:
    both customer and orders arrive via BroadcastHashJoin; the only
    Exchange below the top-k sort is the final groupBy."""
    from bsc_project_spark.queries.eventops import QUERIES

    plan = (
        QUERIES["q_segment_revenue"].spark(spark, SF_DIR)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_regional_revenue_broadcasts_every_dim(spark):
    """TPC-H Q5 shape: the lineitem fact joins orders/customer/supplier/
    nation/region exclusively through broadcasts — the fact is scanned
    once and never shuffles before the final (r_name, n_name) groupBy."""
    from bsc_project_spark.queries.eventops import QUERIES

    plan = (
        QUERIES["q_regional_revenue"].spark(spark, SF_DIR)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("BroadcastHashJoin") >= 4
    assert "SortMergeJoin" not in plan
    assert plan.count("Scan parquet") == 6  # each table exactly once


def test_salted_join_query_is_shuffle_hash_on_salt(spark):
    """The salted join must take the distributed path (no broadcast) and
    carry the salt in the join key."""
    from bsc_project_spark.queries.skew import QUERIES

    plan = (
        QUERIES["q_salted_join"].spark(spark, SF_DIR)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "ShuffledHashJoin" in plan
    assert "_salt" in plan
    assert "BroadcastHashJoin" not in plan


def test_pricing_summary_pushes_date_filter(spark):
    from bsc_project_spark.queries.eventops import QUERIES

    plan = (
        QUERIES["q_pricing_summary"].spark(spark, SF_DIR)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan


def test_extraction_broadcasts_refs_side(spark, corpus):
    from bsc_project_spark.fixtures import spark_io
    from bsc_project_spark.fixtures.corpus import FIXTURE_CONFIG
    from bsc_project_spark.pipeline.extract import extract_spans

    docs = spark_io.documents_df(spark, corpus)
    media = spark_io.media_df(spark, corpus)

    def plan_of(media_frame):
        return (
            extract_spans(docs, media_frame, FIXTURE_CONFIG)
            ._jdf.queryExecution().executedPlan().toString()
        )

    # the refs side that restricts media must be broadcast (page bytes
    # never shuffle for it): with or without width/height metadata, media
    # joins the broadcast bins, which hold exactly the refs' pages
    join = r"BroadcastHashJoin \[media_ref#\d+\], \[media_ref#\d+\], Inner"
    assert re.search(join, plan_of(media))
    assert re.search(join, plan_of(media.drop("width", "height")))


def test_bounded_page_stage_does_not_recompute_refs(spark, corpus):
    """With width/height metadata the refs are derived once, at build time,
    for the driver-side sizes collect; the page stage the action runs joins
    media to the broadcast bins alone, so it neither re-explodes the
    documents (Generate) nor semi-joins the refs."""
    from bsc_project_spark.fixtures import spark_io
    from bsc_project_spark.fixtures.corpus import FIXTURE_CONFIG
    from bsc_project_spark.pipeline.extract import run_extract_stage

    docs = spark_io.documents_df(spark, corpus)
    media = spark_io.media_df(spark, corpus)
    assert {"width", "height"} <= set(media.columns)
    stage = run_extract_stage(docs, media, FIXTURE_CONFIG).stage
    plan = stage._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan and "BroadcastHashJoin" in plan
    assert "Generate" not in plan
    assert "LeftSemi" not in plan


def test_no_single_partition_window_in_prefix_queries(spark):
    """q_sort_rank / q_sequence_pack / q_corpus_curation compute global
    running aggregates; their physical plans must use the two-phase
    prefix machinery (.prefix), never an Exchange SinglePartition feeding
    a global-order Window (the one-task scale wall)."""
    from bsc_project_spark.queries import all_queries

    qs = all_queries()
    for name in (
        "q_sort_rank",
        "q_sequence_pack",
        "q_corpus_curation",
        "q_quality_curriculum",
    ):
        plan = (
            qs[name].spark(spark, SF_DIR)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "SinglePartition" not in plan, f"{name} funnels through one task"


def test_global_cumsum_matches_window(spark):
    """Exactness of the two-phase prefix sum vs the single-window spec,
    including a non-trivial partition count and empty input."""
    from bsc_project_spark.queries.prefix import global_cumsum

    df = spark.range(0, 997).selectExpr(
        "id AS k", "(id * 37) % 101 + 1 AS v"
    )
    got = {
        r.k: r.cum
        for r in global_cumsum(df, ["k"], "v", "cum", n_parts=13).collect()
    }
    acc, want = 0, {}
    for k in range(997):
        acc += (k * 37) % 101 + 1
        want[k] = acc
    assert got == want

    empty = global_cumsum(df.where("k < 0"), ["k"], "v", "cum")
    assert empty.count() == 0
    assert empty.schema["cum"].dataType.simpleString() == "bigint"


def test_chunk_windows_has_zero_exchanges(spark):
    """q_chunk_windows is a pure narrow flatMap (split -> bounded
    sequence explode -> slice -> join): its physical plan must contain
    NO Exchange at all — at 10^12 docs it runs at scan speed."""
    from bsc_project_spark.queries.textops import QUERIES

    plan = (
        QUERIES["q_chunk_windows"].spark(spark, SF_DIR)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan


def test_grid_radius_join_is_equi_join_not_nested_loop(spark):
    """The epsilon self-join must plan as an equi-join on the grid cell
    keys — never BroadcastNestedLoopJoin / CartesianProduct, the O(n^2)
    shapes the grid decomposition exists to avoid."""
    from bsc_project_spark.queries.similarity import QUERIES

    plan = (
        QUERIES["q_grid_radius_join"].spark(spark, SF_DIR)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_new_graph_and_stream_ops_avoid_global_windows(spark):
    """The round-3 additions that use windows must PARTITION them
    (markov: user_id; window_dedup: (user, type); label_prop: per-node
    top-1; random_walks: per-src neighbor rank) — no Exchange
    SinglePartition anywhere in their physical plans."""
    from bsc_project_spark.queries import all_queries

    qs = all_queries()
    for name in (
        "q_markov_transitions",
        "q_window_dedup",
        "q_label_prop",
        "q_random_walks",
        "q_bfs_distance",
        "q_zorder_layout",
        "q_url_canon",
        # q_source_kl's vocab LIMIT plans as TakeOrdered (no global
        # window) and its srcs x vocab cross join broadcasts the
        # 32-row vocab side — a bounded dim, not an O(n^2) shape.
        "q_source_kl",
        # q_shard_assign's only nested-loop join is the broadcast of the
        # 9-row shard list; burst/paths windows partition by type/user.
        # (q_chi2_independence and q_data_quality are exempt: their
        # SinglePartition exchanges are 1-row scalar aggregates — the
        # grand total over an already-tiny contingency table and the
        # audit's n_checked counts — not data-bearing windows.)
        "q_shard_assign",
        "q_burst_detection",
        "q_session_paths",
    ):
        plan = (
            qs[name].spark(spark, SF_DIR)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "SinglePartition" not in plan, f"{name} funnels through one task"


def test_near_dup_self_joins_route_through_banded_pairs(spark, monkeypatch):
    """Every pair-emitting band self-join builds its candidates with
    ``banded_pairs`` (each pair once, no dedup shuffle) and plans as an
    equi-join — never CartesianProduct / BroadcastNestedLoopJoin."""
    from bsc_project_spark.pipeline import banding, media_ops
    from bsc_project_spark.queries import all_queries, similarity, textops, webtext

    calls = []

    def spy(frame, key, bands):
        calls.append(key)
        return banding.banded_pairs(frame, key, bands)

    for mod in (media_ops, similarity, textops, webtext):
        monkeypatch.setattr(mod, "banded_pairs", spy)
    qs = all_queries()
    for name in (
        "q_phash_pairs",
        "q_simhash_pairs",
        "q_lsh_pairs",
        "q_minhash_est",
        "q_dup_clusters",
        "q_embed_near_dup",
    ):
        calls.clear()
        plan = qs[name].spark(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
        assert calls, f"{name} does not build its pairs with banded_pairs"
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
