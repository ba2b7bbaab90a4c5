"""Event-log and classic-OLAP queries (driver-checkable vs DuckDB).

The streaming module (streaming/events.py) implements sessionization and
windowed rollups as Structured Streaming jobs verified against batch
oracles in pytest; the queries here are the BATCH forms of the same
semantics, expressed declaratively so the driver's oracle gate sees them:

- q_sessionize_batch: gap-based sessionization as two windows (lag -> gap
  flag -> cumulative sum) + per-session aggregation.  This is the exact
  relational shape of the reference's sequential row clustering
  (/root/reference/scripts/post_process.py:225-237) applied to the time
  axis, and the batch oracle for streaming/events.py:sessionize.
- q_event_windows: tumbling-window rollup via Spark's native window()
  grouping (the batch twin of the streaming windowed_counts job).
- q_json_props: JSON property extraction (S6 JSON-source surface,
  /root/reference/scripts/ocr_generate_crops.py:109-111) as a native
  get_json_object column, no UDF.
- q_pricing_summary / q_segment_revenue: classic scan-heavy aggregation
  and 3-way join w/ broadcast dimension — the OLAP shapes every engine
  user runs.  Money math is exact DECIMAL inside the aggregate (bit-equal
  across engines and across Spark's nondeterministic partial-agg order),
  cast to DOUBLE only at the end.

Scale notes: sessionization shuffles once on user_id and both windows
reuse that single sort; at 100 TB the partition key is user_id so state
never concentrates (skewed power-users are bounded by per-user event
caps upstream).  q_event_windows is a single map-side-combinable
groupBy.  q_segment_revenue broadcasts the filtered customer dim
(3/5 of customers -> still dim-sized) so the fact scan never shuffles
for the join; only the final groupBy shuffles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import QuerySpec, materialize, query_scope, register_views, sql_query

QUERIES: dict[str, QuerySpec] = {}


def _q(name: str, spark_fn, oracle: str | None, description: str = "") -> None:
    QUERIES[name] = QuerySpec(spark=spark_fn, oracle=oracle, description=description)


# ---------------------------------------------------------------------------
# Batch sessionization: 12h inactivity gap closes a session.
# Epoch-microsecond arithmetic keeps both engines in exact int64 land.
# ---------------------------------------------------------------------------

_GAP_US = 12 * 3600 * 1_000_000

_SESSIONIZE_BODY = """
    g AS (
      SELECT user_id, event_id, us,
             CASE WHEN lag(us) OVER w IS NULL
                       OR us - lag(us) OVER w > {gap} THEN 1 ELSE 0 END AS new_s
      FROM t
      WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
    ),
    s AS (
      SELECT user_id, event_id, us,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
                              ROWS UNBOUNDED PRECEDING) AS session_id
      FROM g
    )
    SELECT user_id,
           CAST(session_id AS BIGINT) AS session_id,
           COUNT(*) AS n_events,
           MIN(us) AS start_us,
           MAX(us) AS end_us
    FROM s GROUP BY user_id, session_id
"""

# Parquet timestamps arrive as TIMESTAMP_NTZ in Spark 4; epoch math is done
# with timestampdiff against an NTZ epoch literal so the result is identical
# to DuckDB's epoch_us regardless of the session timezone.
_SPARK_EPOCH_US = "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', {c})"

_SESSIONIZE_SPARK = (
    f"WITH t AS (SELECT user_id, event_id, {_SPARK_EPOCH_US.format(c='ts')} AS us FROM events),"
    + _SESSIONIZE_BODY.format(gap=_GAP_US)
)

_SESSIONIZE_DUCK = (
    "WITH t AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events),"
    + _SESSIONIZE_BODY.format(gap=_GAP_US)
)

_q(
    "q_sessionize_batch",
    sql_query(_SESSIONIZE_SPARK),
    _SESSIONIZE_DUCK,
    "gap-based sessionization (lag + cumulative-sum windows, one shuffle on user_id)",
)

# ---------------------------------------------------------------------------
# Tumbling-window rollup (batch twin of streaming windowed_counts).
# ---------------------------------------------------------------------------

def _event_windows_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return (
        spark.table("events")
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.expr("CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)").alias("sum_value"),
        )
        .select(
            F.expr(_SPARK_EPOCH_US.format(c="w.start")).alias("win_us"),
            "event_type",
            "n",
            "sum_value",
        )
    )


_EVENT_WINDOWS_DUCK = """
    SELECT epoch_us(date_trunc('day', ts)) AS win_us,
           event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM events GROUP BY 1, 2
"""

_q(
    "q_event_windows",
    _event_windows_spark,
    _EVENT_WINDOWS_DUCK,
    "tumbling 1-day window rollup via native window() grouping (map-side combinable)",
)

# ---------------------------------------------------------------------------
# JSON property extraction — native column expr, no UDF.
# ---------------------------------------------------------------------------

_JSON_SPARK = """
    WITH k AS (
      SELECT event_type, CAST(get_json_object(props, '$.k') AS INT) AS k
      FROM events
    )
    SELECT event_type, COUNT(*) AS n, SUM(CAST(k AS BIGINT)) AS sum_k,
           MIN(k) AS min_k, MAX(k) AS max_k
    FROM k GROUP BY event_type
"""

_JSON_DUCK = """
    WITH k AS (
      SELECT event_type, CAST(json_extract_string(props, '$.k') AS INT) AS k
      FROM events
    )
    SELECT event_type, COUNT(*) AS n, CAST(SUM(k) AS BIGINT) AS sum_k,
           MIN(k) AS min_k, MAX(k) AS max_k
    FROM k GROUP BY event_type
"""

_q(
    "q_json_props",
    sql_query(_JSON_SPARK),
    _JSON_DUCK,
    "JSON annotation extraction (S6 surface) as native get_json_object, no UDF",
)

# ---------------------------------------------------------------------------
# Pricing summary (TPC-H Q1 shape): one fact scan, map-side-combinable agg,
# exact DECIMAL money math inside the aggregate.
# ---------------------------------------------------------------------------

_PRICING_BODY = """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                    * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS sum_disc,
           COUNT(*) AS n
    FROM lineitem
    WHERE l_shipdate <= {ts_lit} '2000-09-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
"""

_q(
    "q_pricing_summary",
    sql_query(_PRICING_BODY.format(ts_lit="TIMESTAMP_NTZ")),
    _PRICING_BODY.format(ts_lit="TIMESTAMP"),
    "pricing summary (TPC-H Q1 shape): pushed-down date filter + exact-decimal agg",
)

# ---------------------------------------------------------------------------
# Segment revenue (TPC-H Q3 shape): broadcast the filtered customer dim,
# join fact tables, top-k revenue.
# ---------------------------------------------------------------------------

def _segment_revenue_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    cust = spark.table("customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = spark.table("orders").filter(
        F.col("o_orderdate") < F.expr("TIMESTAMP_NTZ '1998-01-01 00:00:00'")
    )
    li = spark.table("lineitem").filter(
        F.col("l_shipdate") >= F.expr("TIMESTAMP_NTZ '1996-01-01 00:00:00'")
    )
    rev = F.expr(
        "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))"
        " * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE)"
    )
    return (
        li.join(F.broadcast(orders.join(cust, orders.o_custkey == cust.c_custkey)
                            .select("o_orderkey", "o_orderdate")),
                li.l_orderkey == F.col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate")
        .agg(rev.alias("revenue"))
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
        .select(
            "l_orderkey",
            F.expr(_SPARK_EPOCH_US.format(c="o_orderdate")).alias("odate_us"),
            "revenue",
        )
    )


_SEGMENT_REVENUE_DUCK = """
    SELECT l_orderkey,
           epoch_us(o_orderdate) AS odate_us,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                    * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS revenue
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
"""

_q(
    "q_segment_revenue",
    _segment_revenue_spark,
    _SEGMENT_REVENUE_DUCK,
    "segment revenue top-k (TPC-H Q3 shape): broadcast dims, one fact shuffle",
)

# ---------------------------------------------------------------------------
# AS-OF join — an operator Spark lacks natively (DuckDB ships ASOF JOIN;
# kdb/Flink/Pandas call it asof/merge_asof).  For every 'click' event, the
# latest 'purchase' value for the same user at-or-before the click.
#
# Spark-first formulation: NO join at all.  Union both streams tagged,
# one window pass per user ordered by (time, rate-rows-first), and
# last(rate) IGNORE NULLS fills each click with the most recent rate.
# This is the scale-correct shape: a naive range join explodes to
# O(clicks x rates-per-user); the union+window is one shuffle on user_id
# and a linear scan within each partition — the same single-sort plan
# sessionization uses, so at 100 TB the two operators share partitioning.
# Rate rows are pre-aggregated per (user, ts) so at-same-instant
# duplicates are deterministic in both engines.
# ---------------------------------------------------------------------------

_ASOF_SPARK = f"""
    WITH clicks AS (
      SELECT event_id, user_id, {_SPARK_EPOCH_US.format(c='ts')} AS us
      FROM events WHERE event_type = 'click'
    ),
    rates AS (
      SELECT user_id, {_SPARK_EPOCH_US.format(c='ts')} AS us, max(value) AS rate
      FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
    ),
    merged AS (
      SELECT user_id, us, 1 AS is_rate, CAST(NULL AS BIGINT) AS event_id, rate
      FROM rates
      UNION ALL
      SELECT user_id, us, 0 AS is_rate, event_id, CAST(NULL AS DOUBLE) AS rate
      FROM clicks
    ),
    filled AS (
      SELECT user_id, us, is_rate, event_id,
             last(rate) IGNORE NULLS OVER (
               PARTITION BY user_id ORDER BY us, is_rate DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rate
      FROM merged
    )
    SELECT event_id, user_id, us, rate FROM filled WHERE is_rate = 0
"""

_ASOF_DUCK = """
    WITH clicks AS (
      SELECT event_id, user_id, epoch_us(ts) AS us
      FROM events WHERE event_type = 'click'
    ),
    rates AS (
      SELECT user_id, epoch_us(ts) AS us, max(value) AS rate
      FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
    )
    SELECT c.event_id, c.user_id, c.us, r.rate
    FROM clicks c
    ASOF LEFT JOIN rates r ON c.user_id = r.user_id AND c.us >= r.us
"""

_q(
    "q_asof_join",
    sql_query(_ASOF_SPARK),
    _ASOF_DUCK,
    "as-of join (latest purchase value at-or-before each click) as a "
    "single union+window pass per user — no range-join explosion",
)

# ---------------------------------------------------------------------------
# Regional revenue (TPC-H Q5 shape): the 6-way star join — lineitem x
# orders x customer x supplier x nation x region — with the classic
# local-supplier twist (supplier and customer share a nation).  The
# Spark side broadcasts EVERY dimension (region/nation/supplier/
# filtered customer are all dim-sized at any SF; orders is the one
# mid-sized side and joins the fact AFTER its own broadcast-dim joins
# shrink it), so the 100 TB fact table is scanned exactly once and
# shuffles only for the final (r_name, n_name) groupBy.  Money math is
# exact DECIMAL inside the aggregate (partial-agg-order-proof), DOUBLE
# only at the end — same convention as q_pricing_summary.
# ---------------------------------------------------------------------------

_REV_EXPR = (
    "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))"
    " * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE)"
)


def _regional_revenue_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    cust = spark.table("customer").select("c_custkey", "c_nationkey")
    orders = spark.table("orders").filter(
        F.col("o_orderdate") >= F.expr("TIMESTAMP_NTZ '1996-01-01 00:00:00'")
    ).select("o_orderkey", "o_custkey")
    supp = spark.table("supplier").select("s_suppkey", "s_nationkey")
    nation = spark.table("nation")
    region = spark.table("region")
    li = spark.table("lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    ord_cust = F.broadcast(
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .select("o_orderkey", "c_nationkey")
    )
    return (
        li.join(ord_cust, li.l_orderkey == F.col("o_orderkey"))
        .join(supp, (li.l_suppkey == supp.s_suppkey)
              & (F.col("c_nationkey") == supp.s_nationkey))
        .join(nation, supp.s_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(F.expr(_REV_EXPR).alias("revenue"),
             F.count(F.lit(1)).cast("bigint").alias("n_items"))
    )


_REGIONAL_REVENUE_DUCK = f"""
    SELECT r_name, n_name,
           {_REV_EXPR} AS revenue,
           CAST(count(*) AS BIGINT) AS n_items
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
    GROUP BY r_name, n_name
"""

_q(
    "q_regional_revenue",
    _regional_revenue_spark,
    _REGIONAL_REVENUE_DUCK,
    "regional revenue (TPC-H Q5 shape): 6-way star join, local-supplier "
    "twist, every dim broadcast — fact scanned once, one final shuffle",
)

# ---------------------------------------------------------------------------
# Bloom-filter join pruning: the build side (BUILDING-segment customers)
# is folded into an m=8192-bit / k=3 Bloom filter keyed on md5 slices
# (deterministic, engine-identical); the probe side (orders) keeps a row
# iff all 3 of its bit positions are set.  The query reports, per order
# status, the probe count, bloom-pass count, exact semi-join count and
# the false-positive count — so the filter's precision is part of the
# checked result, not a claim.
#
# Shape at scale: this is the semi-join-pruning pattern for dims too big
# to broadcast as a key set — the 8192-bit bitmap (1 KiB) broadcasts
# when the key set cannot; the probe never shuffles.  (Spark's own AQE
# runtime bloom filters do this implicitly; here it is explicit and
# hash-checked.)  k=3 positions come from independent 8-hex-char slices
# of one md5 — one hash computation per key, same split-digest trick as
# the CMS sketch.
# ---------------------------------------------------------------------------

_BLOOM_M = 8192


def _bloom_pos(expr: str, off: int) -> str:
    from .textops import _hex8_of

    return f"(({_hex8_of(f'substring(md5({expr}), {off}, 8)')}) % {_BLOOM_M})"


_BLOOM_BODY = f"""
    WITH build AS (
      SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    ),
    bits AS (
      SELECT DISTINCT pos FROM (
        SELECT {_bloom_pos("CAST(c_custkey AS STRING)", 1)} AS pos FROM build
        UNION ALL
        SELECT {_bloom_pos("CAST(c_custkey AS STRING)", 9)} AS pos FROM build
        UNION ALL
        SELECT {_bloom_pos("CAST(c_custkey AS STRING)", 17)} AS pos FROM build
      ) p
    ),
    probe AS (
      SELECT o_orderkey, o_orderstatus, o_custkey,
             {_bloom_pos("CAST(o_custkey AS STRING)", 1)} AS p1,
             {_bloom_pos("CAST(o_custkey AS STRING)", 9)} AS p2,
             {_bloom_pos("CAST(o_custkey AS STRING)", 17)} AS p3
      FROM orders
    ),
    tested AS (
      SELECT o_orderkey, o_orderstatus, o_custkey,
             CASE WHEN p1 IN (SELECT pos FROM bits)
                   AND p2 IN (SELECT pos FROM bits)
                   AND p3 IN (SELECT pos FROM bits) THEN 1 ELSE 0 END AS bloom_pass,
             CASE WHEN o_custkey IN (SELECT c_custkey FROM build)
                  THEN 1 ELSE 0 END AS exact_hit
      FROM probe
    )
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(bloom_pass) AS BIGINT) AS n_bloom_pass,
           CAST(sum(exact_hit) AS BIGINT) AS n_exact,
           CAST(sum(CASE WHEN bloom_pass = 1 AND exact_hit = 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_false_pos
    FROM tested GROUP BY o_orderstatus
"""

_q(
    "q_bloom_prune",
    sql_query(_BLOOM_BODY),
    _BLOOM_BODY,
    "Bloom-filter semi-join pruning (m=8192, k=3, split-digest hashes): "
    "per-status probe/pass/exact/false-positive counts — filter "
    "precision is part of the checked result",
)

# ---------------------------------------------------------------------------
# OLAP rollup: GROUP BY ROLLUP(status, priority) with GROUPING() markers.
# The classic data-cube slice (reference analogue: the per-status summary
# tables its notebooks derive one GROUP BY at a time) expressed as ONE
# grouping-sets plan.  Scale notes: Spark executes ROLLUP as a single
# Expand + partial-agg pipeline — each input row fans out to its 3
# grouping sets map-side and combines BEFORE the one shuffle, so the
# network cost is O(distinct groups), not O(rows x sets); no extra
# shuffle vs a plain GROUP BY.  Money math in DECIMAL inside the agg
# (exact, order-independent), one final cast to DOUBLE.
# ---------------------------------------------------------------------------

_ROLLUP_BODY = """
    SELECT coalesce(o_orderstatus, '(all)') AS status,
           coalesce(o_orderpriority, '(all)') AS priority,
           CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
           CAST(GROUPING(o_orderpriority) AS INT) AS g_priority,
           COUNT(*) AS n_orders,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_price
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
"""

_q(
    "q_rollup_cube",
    sql_query(_ROLLUP_BODY),
    _ROLLUP_BODY,
    "OLAP ROLLUP(status, priority) with GROUPING() markers: one "
    "Expand + partial-agg plan, decimal-exact money sums",
)

# ---------------------------------------------------------------------------
# Hopping (sliding) window rollup — 1 h windows every 30 min, the batch
# twin of a streaming sliding aggregation.  Each event lands in exactly
# width/slide = 2 windows; Spark's native window(ts, '1 hour',
# '30 minutes') expands map-side and combines before the single shuffle
# on (window, -).  The oracle replays the same fan-out as a UNION ALL of
# the two covering 30-min-aligned starts in pure integer microsecond
# math (no engine time-bucket semantics to drift).
# ---------------------------------------------------------------------------

_HOP_US = 30 * 60 * 1_000_000  # slide


def _hopping_windows_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return (
        spark.table("events")
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.expr(
                "CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)"
            ).alias("sum_value"),
        )
        .select(
            F.expr(_SPARK_EPOCH_US.format(c="w.start")).alias("win_us"),
            "n_events",
            "n_users",
            "sum_value",
        )
    )


_HOPPING_DUCK = f"""
    WITH starts AS (
      SELECT (epoch_us(ts) // {_HOP_US}) * {_HOP_US} AS win_us,
             user_id, value
      FROM events
      UNION ALL
      SELECT (epoch_us(ts) // {_HOP_US}) * {_HOP_US} - {_HOP_US} AS win_us,
             user_id, value
      FROM events
    )
    SELECT win_us,
           COUNT(*) AS n_events,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM starts GROUP BY win_us
"""

_q(
    "q_hopping_windows",
    _hopping_windows_spark,
    _HOPPING_DUCK,
    "hopping 1h/30min sliding-window rollup via native window(); oracle "
    "replays the 2-window fan-out in integer microsecond math",
)

# ---------------------------------------------------------------------------
# Funnel analysis: ordered view -> click -> purchase conversion.  Each
# step is "first qualifying event STRICTLY AFTER the user completed the
# previous step".  The oracle states it as min-ts per step with chained
# strictly-after joins; the Spark plan computes the same thing in ONE
# shuffle — per-user time-sorted event lists folded by a JVM-side
# ``aggregate`` that advances a stage counter (no per-step joins, no
# persisted frames, no driver counts).  Output is the 3-row funnel with
# integer-ppm step conversion.
# ---------------------------------------------------------------------------

_FUNNEL_BODY = """
    WITH s1 AS (
      SELECT user_id, min(ts) AS t FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    s2 AS (
      SELECT e.user_id, min(e.ts) AS t
      FROM events e JOIN s1 ON e.user_id = s1.user_id AND e.ts > s1.t
      WHERE e.event_type = 'click' GROUP BY e.user_id
    ),
    s3 AS (
      SELECT e.user_id, min(e.ts) AS t
      FROM events e JOIN s2 ON e.user_id = s2.user_id AND e.ts > s2.t
      WHERE e.event_type = 'purchase' GROUP BY e.user_id
    ),
    c AS (SELECT (SELECT count(*) FROM s1) AS c1,
                 (SELECT count(*) FROM s2) AS c2,
                 (SELECT count(*) FROM s3) AS c3)
    SELECT * FROM (
      SELECT 1 AS step_idx, 'view' AS step,
             CAST(c1 AS BIGINT) AS n_users,
             CAST(1000000 AS BIGINT) AS conv_from_prev_ppm
      FROM c
      UNION ALL
      SELECT 2, 'view>click', CAST(c2 AS BIGINT),
             CAST(c2 * 1000000 {intdiv} nullif(c1, 0) AS BIGINT)
      FROM c
      UNION ALL
      SELECT 3, 'view>click>purchase', CAST(c3 AS BIGINT),
             CAST(c3 * 1000000 {intdiv} nullif(c2, 0) AS BIGINT)
      FROM c
    ) x
"""

def _funnel_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-shuffle funnel: ONE groupBy(user_id) collects each user's
    (ts, type) events time-sorted, then a JVM-side ``aggregate`` fold
    walks them once, advancing the funnel stage exactly where the SQL's
    min-ts-strictly-after joins would (stage gating + strict ``>`` make
    equal-ts ties agree with the min-based oracle).  The per-user event
    list is session-bounded upstream, so collect_list state is dim-sized
    per key; the step-join form (3 persisted frames + 3 shuffles +
    driver-side counts) is gone.  The 3-row result is assembled with
    ``stack`` from the final 1-row count frame — no driver state at all."""
    register_views(spark, sf_dir)
    ev = spark.table("events").where(
        F.col("event_type").isin("view", "click", "purchase")
    )
    us = F.expr(_SPARK_EPOCH_US.format(c="ts"))
    per_user = ev.groupBy("user_id").agg(
        F.sort_array(
            F.collect_list(
                F.struct(us.alias("us"), F.col("event_type").alias("et"))
            )
        ).alias("evs")
    )
    stage = F.aggregate(
        "evs",
        F.struct(F.lit(0).alias("s"), F.lit(0).cast("long").alias("t")),
        lambda a, e: (
            F.when(
                (a["s"] == 0) & (e["et"] == "view"),
                F.struct(F.lit(1).alias("s"), e["us"].alias("t")),
            )
            .when(
                (a["s"] == 1) & (e["et"] == "click") & (e["us"] > a["t"]),
                F.struct(F.lit(2).alias("s"), e["us"].alias("t")),
            )
            .when(
                (a["s"] == 2) & (e["et"] == "purchase") & (e["us"] > a["t"]),
                F.struct(F.lit(3).alias("s"), e["us"].alias("t")),
            )
            .otherwise(a)
        ),
        lambda a: a["s"],
    )
    counts = per_user.select(stage.alias("s")).agg(
        F.coalesce(F.sum((F.col("s") >= 1).cast("long")), F.lit(0)).alias("c1"),
        F.coalesce(F.sum((F.col("s") >= 2).cast("long")), F.lit(0)).alias("c2"),
        F.coalesce(F.sum((F.col("s") >= 3).cast("long")), F.lit(0)).alias("c3"),
    )
    return counts.selectExpr(
        """stack(3,
             1, 'view', CAST(c1 AS BIGINT), CAST(1000000 AS BIGINT),
             2, 'view>click', CAST(c2 AS BIGINT),
                CAST(c2 * 1000000 DIV nullif(c1, 0) AS BIGINT),
             3, 'view>click>purchase', CAST(c3 AS BIGINT),
                CAST(c3 * 1000000 DIV nullif(c2, 0) AS BIGINT)
           ) AS (step_idx, step, n_users, conv_from_prev_ppm)"""
    )


_q(
    "q_funnel",
    _funnel_spark,
    _FUNNEL_BODY.format(intdiv="//"),
    "3-step ordered funnel (view -> click -> purchase, strictly-after "
    "semantics) with integer-ppm step conversion; per-user min-ts "
    "equi-joins, no range join; one pushed-filter event scan per step",
)

# ---------------------------------------------------------------------------
# Cohort retention: cohort = the Unix week of a user's FIRST event;
# retention(cohort, offset) = users of that cohort active `offset`
# weeks later, as an integer ppm of cohort size.  Week ids are exact
# int64 epoch-microsecond division (both engines agree bit-for-bit,
# same _SPARK_EPOCH_US discipline as sessionize).  Shape: one DISTINCT
# (user, week) shuffle, a user-grouped min, then a user-keyed join and
# a (cohort, offset) rollup — every agg map-side combinable, no skew
# (cohort keys are calendar weeks).
# ---------------------------------------------------------------------------

_WEEK_US = 7 * 24 * 3600 * 1_000_000

_COHORT_BODY = """
    WITH w AS (
      SELECT user_id, CAST({us} {intdiv} {week_us} AS BIGINT) AS week
      FROM events
    ),
    a AS (SELECT DISTINCT user_id, week FROM w),
    c AS (SELECT user_id, min(week) AS cohort_week FROM a GROUP BY user_id),
    n0 AS (SELECT cohort_week, count(*) AS cohort_size FROM c
           GROUP BY cohort_week),
    act AS (
      SELECT c.cohort_week, a.week - c.cohort_week AS week_offset,
             count(*) AS active_users
      FROM a JOIN c ON a.user_id = c.user_id
      GROUP BY c.cohort_week, a.week - c.cohort_week
    )
    SELECT act.cohort_week,
           CAST(act.week_offset AS BIGINT) AS week_offset,
           CAST(act.active_users AS BIGINT) AS active_users,
           CAST(n0.cohort_size AS BIGINT) AS cohort_size,
           CAST(act.active_users * 1000000 {intdiv} n0.cohort_size AS BIGINT)
             AS retention_ppm
    FROM act JOIN n0 ON act.cohort_week = n0.cohort_week
"""

# Spark side: the oracle's tail over the materialized a and c frames
_COHORT_TAIL = "WITH a AS (SELECT * FROM {a}), c AS (SELECT * FROM {c}),\n" + (
    _COHORT_BODY[_COHORT_BODY.index("    n0 AS"):].replace("{intdiv}", "DIV")
)


def _cohort_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialize the DISTINCT (user, week) activity frame ONCE (the
    inlined-CTE form re-derives it inside c, n0 AND act — 6 event scans
    in the physical plan; this shape scans events once) and the per-user
    cohort frame once (referenced by both the numerator and the cohort
    sizes).  Both are skinny int64 relations."""
    register_views(spark, sf_dir)
    a = materialize(spark.sql(
        f"""SELECT DISTINCT user_id,
                   CAST({_SPARK_EPOCH_US.format(c='ts')} DIV {_WEEK_US}
                        AS BIGINT) AS week
            FROM events"""
    ))
    c = materialize(spark.sql(
        """SELECT user_id, min(week) AS cohort_week FROM {a}
           GROUP BY user_id""",
        a=a,
    ))
    return spark.sql(_COHORT_TAIL, a=a, c=c)


_q(
    "q_cohort_retention",
    query_scope(_cohort_spark),
    _COHORT_BODY.format(us="epoch_us(ts)", intdiv="//", week_us=_WEEK_US),
    "weekly cohort retention matrix (cohort = week of first event) with "
    "integer-ppm retention; exact int64 epoch-week ids both engines; "
    "activity frame materialized once",
)

# ---------------------------------------------------------------------------
# Time-decayed engagement score: per user, the exponentially-decayed
# sum of event values (half-life 7 days, anchored at the corpus max
# timestamp) — the recency-weighted activity feature behind churn
# models and freshness-weighted sampling of interaction data.
#
# Cross-engine float discipline: each event's contribution
# value * 2^(-age/halflife) is floored to integer ppm BEFORE the
# per-user sum (the q_bm25 trick), so aggregation order can't move the
# result; ages are exact int64 epoch-microsecond differences.  The
# corpus max timestamp is a scalar subquery — one broadcast value, no
# join.
#
# Shape at scale: a single map-side-combinable groupBy(user_id) over a
# projected (user_id, us, value) scan; no windows, no self-joins.
# ---------------------------------------------------------------------------

_DECAY_HL_US = 7 * 24 * 3600 * 1_000_000

_DECAY_BODY = """
    WITH t AS (
      SELECT user_id, {us} AS us, value FROM events
    ),
    w AS (
      SELECT user_id,
             CAST(floor(
               1e6 * value
               * exp(-6.931471805599453e-1
                     * ((SELECT max(us) FROM t) - us) / {hl})
             ) AS BIGINT) AS w_ppm
      FROM t
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(w_ppm) AS BIGINT) AS decay_score_ppm
    FROM w GROUP BY user_id
"""

_q(
    "q_decay_score",
    sql_query(
        _DECAY_BODY.format(us=_SPARK_EPOCH_US.format(c="ts"), hl=_DECAY_HL_US)
    ),
    _DECAY_BODY.format(us="epoch_us(ts)", hl=_DECAY_HL_US),
    "per-user exponentially time-decayed engagement score (half-life "
    "7d, integer-ppm contributions floored before the exact sum): one "
    "map-side-combinable groupBy, scalar-subquery anchor, no windows",
)

# ---------------------------------------------------------------------------
# Last-touch attribution — assign each purchase to the user's most
# recent STRICTLY-preceding view/click (the marketing-analytics twin of
# the funnel: which touchpoint gets credit for the conversion).
# Purchases with no preceding touch attribute to 'direct'.
#
# Cross-engine determinism: the event order key is (ts, event_id) — a
# total order — and revenue is floored to integer cents per event
# before the sum.  Shape at scale: ONE window partitioned by user_id
# (the sessionize shuffle key), then a map-side-combinable groupBy on
# the tiny channel dimension; no joins, no global ordering.
# ---------------------------------------------------------------------------

_ATTR_BODY = """
    WITH e AS (
      SELECT user_id, ts, event_id, event_type, value FROM events
    ),
    lt AS (
      SELECT event_type, value,
             {last_touch} OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ) AS touch
      FROM e
    )
    SELECT coalesce(touch, 'direct') AS channel,
           CAST(count(*) AS BIGINT) AS n_purchases,
           CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
             AS revenue_cents
    FROM lt
    WHERE event_type = 'purchase'
    GROUP BY coalesce(touch, 'direct')
"""

_TOUCH_CASE = (
    "CASE WHEN event_type IN ('view', 'click') THEN event_type END"
)

_q(
    "q_attribution",
    sql_query(_ATTR_BODY.format(last_touch=f"last({_TOUCH_CASE}) IGNORE NULLS")),
    _ATTR_BODY.format(last_touch=f"last_value({_TOUCH_CASE} IGNORE NULLS)"),
    "last-touch purchase attribution: one user-partitioned IGNORE NULLS "
    "window assigns each purchase to its latest preceding view/click, "
    "revenue exact in integer cents — no joins, no global ordering",
)

# ---------------------------------------------------------------------------
# SCD type-2 history build — the slowly-changing-dimension pattern every
# warehouse ingestion pipeline runs: compress a key's change stream into
# versioned validity intervals (valid_from / valid_to / is_current),
# collapsing consecutive periods with the same attribute value
# (gaps-and-islands).  Here the change stream is each customer's order
# status over time.
#
# Cross-engine determinism: the change stream is totally ordered by
# (o_orderdate, o_orderkey); the island id is a running sum of change
# flags (exact integers).  Shape at scale: every window PARTITIONs BY
# custkey — the whole build is ONE shuffle on the key, no global
# ordering, every aggregate map-side combinable.
# ---------------------------------------------------------------------------

_SCD2_SQL = """
    WITH o AS (
      SELECT o_custkey AS custkey, o_orderstatus AS status,
             o_orderdate AS ts, o_orderkey AS k
      FROM orders
    ),
    f AS (
      SELECT custkey, status, ts, k,
             CASE WHEN lag(status) OVER w IS NULL
                       OR lag(status) OVER w <> status
                  THEN 1 ELSE 0 END AS chg
      FROM o
      WINDOW w AS (PARTITION BY custkey ORDER BY ts, k)
    ),
    isl AS (
      SELECT custkey, status, ts,
             sum(chg) OVER (
               PARTITION BY custkey ORDER BY ts, k
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS island
      FROM f
    ),
    g AS (
      SELECT custkey, island,
             min(status) AS status,
             min(ts) AS valid_from,
             CAST(count(*) AS BIGINT) AS n_orders
      FROM isl GROUP BY custkey, island
    )
    SELECT custkey,
           CAST(island AS BIGINT) AS version,
           status,
           valid_from,
           lead(valid_from) OVER v AS valid_to,
           n_orders,
           CAST(CASE WHEN lead(valid_from) OVER v IS NULL
                     THEN 1 ELSE 0 END AS INT) AS is_current
    FROM g
    WINDOW v AS (PARTITION BY custkey ORDER BY island)
"""

_q(
    "q_scd2_history",
    sql_query(_SCD2_SQL),
    _SCD2_SQL,
    "SCD type-2 dimension history: gaps-and-islands compression of each "
    "customer's status change stream into versioned validity intervals — "
    "one custkey shuffle, every window key-partitioned",
)

# ---------------------------------------------------------------------------
# Time-series gap fill (resample + forward fill) — the "regularize an
# irregular event stream onto a daily grid" step every feature pipeline
# runs before windowed models: per user, build the COMPLETE day range
# between first and last activity, left-join the observed daily totals,
# and forward-fill missing days with the last observed value.  The
# result row is a per-user audit of the filled series (observed/filled
# day counts + an exact integer checksum over the ENTIRE filled series,
# so the gate hash-checks every filled cell without shipping the grid).
#
# Cross-engine determinism: days are exact int64 epoch-day numbers
# (unix microseconds div 86400e6), daily totals are exact integer
# cents floored per event.  Shape at scale: the grid explode is a
# narrow per-user flatMap bounded by the user's own span; every window
# PARTITIONs BY user_id — one shuffle key end to end.
# ---------------------------------------------------------------------------

_DAY_US = 86_400_000_000

_GAP_FILL_BODY = f"""
    WITH e AS (
      SELECT user_id, {{epoch_us}} {{idiv}} {_DAY_US} AS day,
             CAST(floor(value * 100) AS BIGINT) AS cents
      FROM events
    ),
    daily AS (
      SELECT user_id, day, sum(cents) AS cents
      FROM e GROUP BY user_id, day
    ),
    span AS (
      SELECT user_id, min(day) AS d0, max(day) AS d1
      FROM daily GROUP BY user_id
    ),
    grid AS (
      SELECT s.user_id, s.d0 + g.o AS day
      FROM span s {{gen_o}}
    ),
    filled AS (
      SELECT g.user_id, g.day, d.cents AS observed,
             {{ffill}} OVER (
               PARTITION BY g.user_id ORDER BY g.day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS cents
      FROM grid g LEFT JOIN daily d
        ON d.user_id = g.user_id AND d.day = g.day
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_days,
           CAST(count(observed) AS BIGINT) AS n_observed,
           CAST(count(*) - count(observed) AS BIGINT) AS n_filled,
           CAST(sum(cents) AS BIGINT) AS series_checksum_cents
    FROM filled
    GROUP BY user_id
"""

_q(
    "q_gap_fill",
    sql_query(_GAP_FILL_BODY.format(
        epoch_us=_SPARK_EPOCH_US.format(c="ts"),
        idiv="div",
        gen_o="LATERAL VIEW explode(sequence(0, s.d1 - s.d0)) g AS o",
        ffill="last(d.cents) IGNORE NULLS",
    )),
    _GAP_FILL_BODY.format(
        epoch_us="epoch_us(ts)",
        idiv="//",
        gen_o=", LATERAL (SELECT unnest(generate_series(0, s.d1 - s.d0)) AS o) g",
        ffill="last_value(d.cents IGNORE NULLS)",
    ),
    "daily resample + forward fill per user: complete day grid between "
    "first/last activity, last-observation-carried-forward, exact "
    "integer checksum over the whole filled series — one user_id "
    "shuffle, grid explode bounded by each user's own span",
)

# ---------------------------------------------------------------------------
# Z-order (Morton-curve) data layout — the multi-dimensional clustering
# every large-table engine uses for 2-D pruning (Delta Lake Z-ORDER,
# Iceberg sort-order binpacking).  Each event is keyed by two pruning
# dims (user bucket x = user_id mod 1024, day bucket y = epoch-day mod
# 1024); the 20-bit Morton code interleaves their bits, and z div 4096
# assigns the target file.  The checked result is the per-file min/max
# column statistics a scan planner would prune on, plus the bbox area —
# the locality metric that makes Z-order beat lexicographic layout (a
# Morton range covers a COMPACT rectangle, so both x-predicates and
# y-predicates skip most files).
#
# Bit extraction is pure integer modulo-compare (CASE WHEN v % 2p >= p),
# identical in both dialects — no engine bit-op intrinsics, no floats.
# Scale notes: the Morton code is a map-only projection; the only shuffle
# is the file_id stats rollup (map-side combinable min/max/count).  At
# 100 TB this is exactly the OPTIMIZE ZORDER write path: code -> range
# partition by z -> per-file stats for the manifest.
# ---------------------------------------------------------------------------

_ZBITS = 10  # 10 bits per dim -> 20-bit Morton code
_Z_FILE_SHIFT = 4096  # z div 4096 -> at most 256 files


def _zbit(col: str, i: int) -> str:
    p = 1 << i
    return f"(CASE WHEN {col} % {2 * p} >= {p} THEN 1 ELSE 0 END)"


_Z_EXPR = " + ".join(
    f"{_zbit('x', i)} * {4 ** i} + {_zbit('y', i)} * {2 * 4 ** i}"
    for i in range(_ZBITS)
)

_ZORDER_BODY = """
    WITH dims AS (
      SELECT user_id % 1024 AS x,
             ({epoch_us} {idiv} 86400000000) % 1024 AS y
      FROM events
    ),
    zed AS (
      SELECT x, y, ({z}) {idiv} {shift} AS file_id FROM dims
    )
    SELECT CAST(file_id AS BIGINT) AS file_id,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(min(x) AS BIGINT) AS min_x,
           CAST(max(x) AS BIGINT) AS max_x,
           CAST(min(y) AS BIGINT) AS min_y,
           CAST(max(y) AS BIGINT) AS max_y,
           CAST((max(x) - min(x) + 1) * (max(y) - min(y) + 1) AS BIGINT)
             AS bbox_area
    FROM zed
    GROUP BY file_id
"""

_q(
    "q_zorder_layout",
    sql_query(_ZORDER_BODY.format(
        epoch_us=_SPARK_EPOCH_US.format(c="ts"),
        idiv="div",
        z=_Z_EXPR,
        shift=_Z_FILE_SHIFT,
    )),
    _ZORDER_BODY.format(
        epoch_us="epoch_us(ts)",
        idiv="//",
        z=_Z_EXPR,
        shift=_Z_FILE_SHIFT,
    ),
    "Z-order (Morton) layout: 20-bit interleaved (user-bucket, day-bucket) "
    "code assigns files; checked output is the per-file min/max pruning "
    "stats + bbox area — map-only code, one combinable stats rollup",
)

# ---------------------------------------------------------------------------
# Per-user event-type transition matrix (first-order Markov estimate) —
# the sequence-bigram statistic behind next-event prediction features,
# session-flow dashboards, and behavioral embeddings.  Each user's
# time-ordered event stream contributes its consecutive (from -> to)
# type pairs; the output is the global transition-count matrix with the
# row-conditional probability in exact integer ppm (count * 10^6 div
# row-total — no float division, so the gate hash-checks the matrix).
#
# Scale notes: one shuffle on user_id for the lead() window (each user's
# stream sorts independently — no global order), then one map-side-
# combinable rollup on the (from, to) pair.  Ties inside a user's stream
# break on event_id, so the pairing is deterministic under any executor
# count.  The |types|^2-sized result is driver-safe by construction.
# ---------------------------------------------------------------------------

_MARKOV_BODY = """
    WITH seq AS (
      SELECT event_type AS from_type,
             lead(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS to_type
      FROM events
    ),
    pairs AS (
      SELECT from_type, to_type, count(*) AS n
      FROM seq WHERE to_type IS NOT NULL
      GROUP BY from_type, to_type
    ),
    totals AS (
      SELECT from_type, sum(n) AS row_n FROM pairs GROUP BY from_type
    )
    SELECT p.from_type, p.to_type,
           CAST(p.n AS BIGINT) AS n_transitions,
           CAST((p.n * 1000000) {idiv} t.row_n AS BIGINT) AS prob_ppm
    FROM pairs p JOIN totals t ON t.from_type = p.from_type
"""

_q(
    "q_markov_transitions",
    sql_query(_MARKOV_BODY.format(idiv="div")),
    _MARKOV_BODY.format(idiv="//"),
    "first-order event-type transition matrix: per-user lead() pairing "
    "(one user_id shuffle), global (from,to) rollup, row-conditional "
    "probability in exact integer ppm",
)

# ---------------------------------------------------------------------------
# Debounce dedup — the batch twin of the streaming dedup-in-watermark
# path (streaming/events.py): an event is kept iff it is the first of
# its (user, type) key or arrived more than 1 h after its immediate
# predecessor, the standard repeat-suppression rule for telemetry /
# notification streams (and the exact-dup collapse for re-delivered
# batches).  lag() per key-ordered stream, one shuffle on the key; ties
# break on event_id so the keep-set is deterministic under any executor
# count.  Scale notes: the window PARTITIONs BY (user_id, event_type) —
# per-key streams sort independently, no global order anywhere.
# ---------------------------------------------------------------------------

_DEBOUNCE_GAP_US = 3_600_000_000

_DEBOUNCE_BODY = """
    WITH t AS (
      SELECT event_id, user_id, event_type, {epoch_us} AS us FROM events
    ),
    lagged AS (
      SELECT event_id, user_id, event_type, us,
             lag(us) OVER (
               PARTITION BY user_id, event_type ORDER BY us, event_id
             ) AS prev_us
      FROM t
    )
    SELECT CAST(event_id AS BIGINT) AS event_id,
           CAST(user_id AS BIGINT) AS user_id,
           event_type,
           CAST(us AS BIGINT) AS us
    FROM lagged WHERE prev_us IS NULL OR us - prev_us > {gap}
"""

_q(
    "q_window_dedup",
    sql_query(_DEBOUNCE_BODY.format(
        epoch_us=_SPARK_EPOCH_US.format(c="ts"), gap=_DEBOUNCE_GAP_US
    )),
    _DEBOUNCE_BODY.format(epoch_us="epoch_us(ts)", gap=_DEBOUNCE_GAP_US),
    "debounce dedup: keep an event iff first of its (user, type) key or "
    "> 1 h after its predecessor — one key-partitioned lag() window, "
    "deterministic tie-break on event_id",
)

# ---------------------------------------------------------------------------
# Burst detection — the time-series anomaly primitive behind trend
# surfacing and abuse alarms: a (type, day) cell bursts when its count
# exceeds 1.5x the mean of ITS OWN previous 3 days.  The comparison is
# exact integer cross-multiplication (2 * n * 3 > 3 * prev3_sum * ...;
# here n * 2 > prev3_sum so thresholds never touch floats), and the
# trailing window PARTITIONs BY event_type — each type's daily series
# sorts independently, never a global order.
#
# Scale notes: one (type, day) rollup (map-side combinable) shrinks the
# stream to |types| x |days| rows BEFORE any window runs — the trailing
# lag()s operate on the tiny aggregate, not the raw events.
# ---------------------------------------------------------------------------

_BURST_BODY = """
    WITH daily AS (
      SELECT event_type, {us} {idiv} 86400000000 AS day, count(*) AS n
      FROM events GROUP BY event_type, {us} {idiv} 86400000000
    ),
    trail AS (
      SELECT event_type, day, n,
             lag(n, 1) OVER (PARTITION BY event_type ORDER BY day) AS p1,
             lag(n, 2) OVER (PARTITION BY event_type ORDER BY day) AS p2,
             lag(n, 3) OVER (PARTITION BY event_type ORDER BY day) AS p3
      FROM daily
    )
    SELECT event_type,
           CAST(day AS BIGINT) AS day,
           CAST(n AS BIGINT) AS n_events,
           CAST(p1 + p2 + p3 AS BIGINT) AS prev3_sum,
           CAST(CASE WHEN n * 2 > p1 + p2 + p3 THEN 1 ELSE 0 END AS BIGINT)
             AS is_burst
    FROM trail WHERE p3 IS NOT NULL
"""

_q(
    "q_burst_detection",
    sql_query(_BURST_BODY.format(us=_SPARK_EPOCH_US.format(c="ts"), idiv="div")),
    _BURST_BODY.format(us="epoch_us(ts)", idiv="//"),
    "per-type daily burst detection vs the trailing 3-day baseline: "
    "rollup first (windows run on |types| x |days| rows, not raw "
    "events), integer cross-multiplied threshold, per-type partitions",
)

# ---------------------------------------------------------------------------
# Session path mining — the top-k most common 3-step event paths
# (per-user consecutive trigrams), the sequence-pattern statistic
# behind navigation analysis and next-action models.  Two lead()s per
# user-ordered stream build the trigram, a global rollup counts paths,
# and the top-10 cut is a TakeOrdered (count DESC, path ASC — total
# order), never a global sort.
# ---------------------------------------------------------------------------

_PATHS_BODY = """
    WITH seq AS (
      SELECT event_type AS e1,
             lead(event_type, 1) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS e2,
             lead(event_type, 2) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS e3
      FROM events
    ),
    paths AS (
      SELECT concat(e1, '>', e2, '>', e3) AS path, count(*) AS n
      FROM seq WHERE e3 IS NOT NULL
      GROUP BY concat(e1, '>', e2, '>', e3)
    )
    SELECT path, CAST(n AS BIGINT) AS n_sessions
    FROM paths ORDER BY n DESC, path ASC LIMIT 10
"""

_q(
    "q_session_paths",
    sql_query(_PATHS_BODY),
    _PATHS_BODY,
    "top-10 3-step event paths: two lead()s on the user-partitioned "
    "stream, global path rollup, TakeOrdered top-k with total tie order",
)

# ---------------------------------------------------------------------------
# JSON schema profiling — the schema-on-read discovery step a lake runs
# over a semi-structured column before declaring a table: per key, how
# many rows carry it and its coverage share.  The fixture's props column
# is single-key, so a richer payload is synthesized deterministically
# from event_id (optional price / tags / name keys at different
# modularities); the operator under test is the JSON path extraction +
# presence rollup AFTER synthesis.  Extraction is the engines' native
# JSON path (get_json_object / json_extract) — NULL on absent key in
# both.  Scale notes: map-only parse, one 4-key x presence rollup; the
# static key list rides a bounded explode.
# ---------------------------------------------------------------------------

_JSON_PROFILE_BODY = """
    WITH payloads AS (
      SELECT concat(
        '{{"k":', CAST(event_id % 100 AS {st}),
        CASE WHEN event_id % 3 = 0
             THEN concat(',"price":', CAST(event_id % 50 AS {st}), '.5')
             ELSE '' END,
        CASE WHEN event_id % 4 = 0 THEN ',"tags":["a","b"]' ELSE '' END,
        CASE WHEN event_id % 5 = 0
             THEN concat(',"name":"u', CAST(event_id % 9 AS {st}), '"')
             ELSE '' END,
        '}}'
      ) AS js FROM events
    ),
    keys AS (SELECT kk FROM ({kseries}) ks),
    probed AS (
      SELECT k.kk,
             CASE WHEN {extract} IS NOT NULL THEN 1 ELSE 0 END AS present
      FROM payloads p CROSS JOIN keys k
    ),
    nn AS (SELECT count(*) AS n FROM payloads)
    SELECT p.kk AS json_key,
           CAST(sum(p.present) AS BIGINT) AS n_present,
           CAST((sum(p.present) * 1000000) {idiv} nn.n AS BIGINT)
             AS coverage_ppm
    FROM probed p CROSS JOIN nn
    GROUP BY p.kk, nn.n
"""

_q(
    "q_json_schema_profile",
    sql_query(_JSON_PROFILE_BODY.format(
        st="STRING",
        kseries="SELECT explode(array('k', 'price', 'tags', 'name')) AS kk",
        extract="get_json_object(p.js, concat('$.', k.kk))",
        idiv="div",
    )),
    _JSON_PROFILE_BODY.format(
        st="VARCHAR",
        kseries="SELECT unnest(['k', 'price', 'tags', 'name']) AS kk",
        extract="json_extract(p.js, concat('$.', k.kk))",
        idiv="//",
    ),
    "JSON schema profiling: native path extraction over a synthesized "
    "semi-structured payload, per-key presence + coverage ppm — "
    "map-only parse, bounded key explode, one combinable rollup",
)

# ---------------------------------------------------------------------------
# Audience overlap — pairwise Jaccard of the user sets behind each
# event type: the segmentation/cannibalization matrix every funnel
# owner reads ("are purchasers a subset of clickers?").  Intersections
# come from ONE self-join over the deduped (type, user) frame keyed on
# user (bounded fan-out: a user carries at most |types| rows), union
# sizes by inclusion-exclusion, Jaccard in exact integer ppm — the
# whole matrix is |types|^2 rows.
# ---------------------------------------------------------------------------

_AUDIENCE_BODY = """
    WITH tu AS (SELECT DISTINCT event_type, user_id FROM events),
    sizes AS (SELECT event_type, count(*) AS n FROM tu GROUP BY event_type),
    inter AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b, count(*) AS i
      FROM tu a JOIN tu b ON b.user_id = a.user_id
      WHERE a.event_type < b.event_type
      GROUP BY a.event_type, b.event_type
    )
    SELECT i.type_a, i.type_b,
           CAST(i.i AS BIGINT) AS n_shared,
           CAST(sa.n + sb.n - i.i AS BIGINT) AS n_union,
           CAST((i.i * 1000000) {idiv} (sa.n + sb.n - i.i) AS BIGINT)
             AS jaccard_ppm
    FROM inter i
    JOIN sizes sa ON sa.event_type = i.type_a
    JOIN sizes sb ON sb.event_type = i.type_b
"""

_q(
    "q_audience_overlap",
    sql_query(_AUDIENCE_BODY.format(idiv="div")),
    _AUDIENCE_BODY.format(idiv="//"),
    "pairwise Jaccard of per-event-type user sets: one user-keyed "
    "self-join over the deduped (type, user) frame (fan-out bounded by "
    "|types|), inclusion-exclusion unions, exact integer ppm",
)

# ---------------------------------------------------------------------------
# RFM feature extraction — the classic per-user (recency, frequency,
# monetary) vector that churn / LTV / segmentation models train on:
# recency = whole days since the user's last event (anchored at the
# corpus max timestamp so the feature is reproducible), frequency =
# event count, monetary = exact DECIMAL value sum surfaced in integer
# cents.  One map-side-combinable groupBy on user_id; the anchor is a
# scalar subquery (1-row broadcast).  Every feature is an exact
# integer — the gate hash-checks the whole feature table.
# ---------------------------------------------------------------------------

_RFM_BODY = """
    WITH anchor AS (SELECT max({us}) AS max_us FROM events),
    per_user AS (
      SELECT user_id,
             max({us}) AS last_us,
             count(*) AS freq,
             sum(CAST(value AS DECIMAL(18, 6))) AS monetary
      FROM events GROUP BY user_id
    )
    SELECT CAST(u.user_id AS BIGINT) AS user_id,
           CAST((a.max_us - u.last_us) {idiv} 86400000000 AS BIGINT)
             AS recency_days,
           CAST(u.freq AS BIGINT) AS frequency,
           CAST(CAST(u.monetary * 100 AS DECIMAL(18, 0)) AS BIGINT)
             AS monetary_cents
    FROM per_user u CROSS JOIN anchor a
"""

_q(
    "q_rfm_features",
    sql_query(_RFM_BODY.format(us=_SPARK_EPOCH_US.format(c="ts"), idiv="div")),
    _RFM_BODY.format(us="epoch_us(ts)", idiv="//"),
    "per-user RFM feature vector (recency days vs corpus anchor, "
    "frequency, exact DECIMAL monetary in cents): one combinable "
    "user_id rollup + a 1-row anchor broadcast, all-integer output",
)

# ---------------------------------------------------------------------------
# Pareto concentration (80/20 report) — the smallest user set whose
# exact-cents value covers >= 80% of the total, as a one-row
# concentration summary: how top-heavy is the corpus's value?  The
# cumulative walk down the value-sorted user list uses the two-phase
# global_cumsum from .prefix (range exchange + per-range subtotals +
# broadcast offsets — never a single-task window); the 80% boundary and
# both shares are exact integer cross-multiplications.
# ---------------------------------------------------------------------------


def _pareto_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from . import register_views
    from .prefix import global_cumsum

    register_views(spark, sf_dir)
    users = (
        spark.table("events")
        .groupBy("user_id")
        .agg(
            F.expr(
                "CAST(CAST(sum(CAST(value AS DECIMAL(18,6))) * 100"
                " AS DECIMAL(18,0)) AS BIGINT)"
            ).alias("cents")
        )
        .select("user_id", "cents", (-F.col("cents")).alias("neg_cents"))
    )
    cum = global_cumsum(users, ["neg_cents", "user_id"], "cents", "cum")
    totals = cum.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("cents").cast("bigint").alias("total"),
    )
    joined = cum.crossJoin(totals)
    return joined.agg(
        F.max("k").alias("n_users"),
        (
            F.sum(
                F.when(F.col("cum") * 100 < 80 * F.col("total"), 1).otherwise(0)
            )
            + 1
        )
        .cast("bigint")
        .alias("n_power_users"),
        F.expr(
            "CAST((sum(CASE WHEN cum * 100 < 80 * total THEN 1 ELSE 0 END) + 1)"
            " * 1000000 div max(k) AS BIGINT)"
        ).alias("users_ppm"),
        F.expr(
            "CAST(min(CASE WHEN cum * 100 >= 80 * total THEN cum END)"
            " * 1000000 div max(total) AS BIGINT)"
        ).alias("value_ppm"),
    )


_PARETO_DUCK = """
    WITH users AS (
      SELECT user_id,
             CAST(CAST(sum(CAST(value AS DECIMAL(18,6))) * 100
                  AS DECIMAL(18,0)) AS BIGINT) AS cents
      FROM events GROUP BY user_id
    ),
    cum AS (
      SELECT user_id, cents,
             sum(cents) OVER (
               ORDER BY cents DESC, user_id
               ROWS UNBOUNDED PRECEDING
             ) AS cum
      FROM users
    ),
    nn AS (SELECT count(*) AS k, sum(cents) AS total FROM users)
    SELECT CAST(nn.k AS BIGINT) AS n_users,
           CAST(sum(CASE WHEN c.cum * 100 < 80 * nn.total THEN 1 ELSE 0 END) + 1
                AS BIGINT) AS n_power_users,
           CAST(((sum(CASE WHEN c.cum * 100 < 80 * nn.total THEN 1 ELSE 0 END) + 1)
                 * 1000000) // nn.k AS BIGINT) AS users_ppm,
           CAST((min(CASE WHEN c.cum * 100 >= 80 * nn.total THEN c.cum END)
                 * 1000000) // nn.total AS BIGINT) AS value_ppm
    FROM cum c CROSS JOIN nn
    GROUP BY nn.k, nn.total
"""

QUERIES["q_pareto_users"] = QuerySpec(
    spark=_pareto_spark,
    oracle=_PARETO_DUCK,
    description=(
        "Pareto 80/20 concentration: smallest user set covering >= 80% "
        "of exact-cents value — two-phase global cumsum (no single-task "
        "window), integer cross-multiplied boundary and shares"
    ),
)

# ---------------------------------------------------------------------------
# Day-of-week seasonality profile — per (event type, weekday) volume
# with each weekday's share of its type in exact integer ppm: the
# weekly-rhythm fingerprint read before capacity planning and before
# interpreting any daily metric move.  Weekday = epoch-day mod 7
# (pure integer arithmetic, identical both engines — engine-native
# dayofweek()/dayname() carry locale and timezone semantics that do
# not survive a cross-engine hash).  One rollup + one broadcast-sized
# marginal join; output bounded by |types| x 7.
# ---------------------------------------------------------------------------

_DOW_BODY = """
    WITH daily AS (
      SELECT event_type,
             ({us} {idiv} 86400000000) % 7 AS dow,
             count(*) AS n
      FROM events GROUP BY event_type, ({us} {idiv} 86400000000) % 7
    ),
    totals AS (SELECT event_type, sum(n) AS tot FROM daily GROUP BY event_type)
    SELECT d.event_type,
           CAST(d.dow AS BIGINT) AS dow,
           CAST(d.n AS BIGINT) AS n_events,
           CAST((d.n * 1000000) {idiv} t.tot AS BIGINT) AS share_ppm
    FROM daily d JOIN totals t ON t.event_type = d.event_type
"""

_q(
    "q_dow_profile",
    sql_query(_DOW_BODY.format(us=_SPARK_EPOCH_US.format(c="ts"), idiv="div")),
    _DOW_BODY.format(us="epoch_us(ts)", idiv="//"),
    "day-of-week seasonality per event type (epoch-day mod 7 — pure "
    "integer weekday, no locale-dependent dayofweek), share in exact "
    "ppm; one rollup + marginal join",
)
