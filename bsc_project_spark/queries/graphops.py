"""Graph analytics over a deterministic document link graph: PageRank
(iterative), anchor-text aggregation, and triangle counting /
clustering coefficients (degree-ordered compact-forward).

The corpus tables carry no explicit link column, so the graph is derived
deterministically INSIDE the query (same self-contained pattern as the
planted benchmark in q_contamination): node = contiguous doc index,
edges = for k in 1..3, idx -> hex8(md5(idx || ':' || k)) % N, dedup'd.
Every node has out-degree >= 1, so there are no dangling nodes and the
plain power iteration applies: r_{t+1}(v) = (1-d)/N + d * sum_{u->v}
r_t(u) / deg(u), d = 0.85, 5 iterations from the uniform vector.

PageRank runs one of two routes, picked by the edge count ``n * _FANOUT``
that ``_link_graph`` knows without a job.  While the packed int64 edges
fit ``config.DRIVER_STATE_BYTES`` (4M edges) one aggregate packs them into one
row and ONE mapInPandas task runs the 5 rounds with ``np.bincount``: each
distributed round pays a persist, an eager count and AQE stage jobs whose
cost does not depend on the data, so below the ceiling that fixed cost
was the whole query.  Above it the rounds are a genuine iterative job — a
Python loop of join/groupBy rounds that materializes each round's state,
the exact shape of the distributed connected-components fixpoint in
textops (q_dup_clusters) and of every Pregel-style computation Spark
users run.  Edges and degrees are computed once and materialized;
per-round state is one (v, rank) frame, shuffled only on the join/group
keys.  Every materialized frame is released with the query's result.
The ORACLE unrolls the same 5 iterations as nested CTEs — declarative,
single-shot, and engine-checkable down to the value hash (ranks rounded
to 7 decimals to absorb sum-order float drift).

Scale notes: each distributed round is one shuffle of (dst,
contribution) pairs — map-side combinable — plus a dim-sized rank join;
at 100 TB of edges the rank frame partitions by vertex id and rounds are
embarrassingly parallel.  Each round plans against the cached previous
round, so a round's jobs read one (v, rank) frame, not the rounds before
it.  The one-task route holds at most ``config.DRIVER_STATE_BYTES`` of
packed edges.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import config
from . import QuerySpec, materialize, query_scope, register_views
from .textops import _hex8_of

QUERIES: dict[str, QuerySpec] = {}

_D = 0.85
_ITERS = 5
_FANOUT = 3


def _link_graph(spark: SparkSession, sf_dir: str):
    """Shared derivation of the deterministic link graph: returns
    (ids, n, edges) where ids = (doc_id, idx) with contiguous idx from
    the two-phase global_row_number (never a single-task window), and
    edges = distinct (src, dst) from the md5 fanout.  ids and edges are
    materialized — every caller reuses them across multiple jobs."""
    register_views(spark, sf_dir)
    from .prefix import global_row_number

    # Dense-id fast path: when doc_ids are EXACTLY {0..n-1} (count ==
    # distinct count, min 0, max n-1 — one cheap aggregate job), the
    # two-phase rank is the identity (row_number()-1 over ORDER BY
    # doc_id == doc_id), so idx = doc_id with zero rank machinery.  The
    # general global_row_number path remains for sparse/offset id
    # spaces; the r6 bench showed each of the six graph queries paying
    # ~1-2 s rebuilding this frame (range exchange + window + subtotal
    # fold + broadcast join) for fixture ids that are always dense.
    stats = (
        spark.table("documents")
        .agg(
            # count(1), not count(doc_id): n must equal the ids frame's
            # row count (global_row_number ranks NULL doc_ids too), or
            # dst = hash % n falls outside the src idx space
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("doc_id").alias("nd"),
            F.min("doc_id").alias("lo"),
            F.max("doc_id").alias("hi"),
        )
        .collect()[0]
    )
    n = int(stats["n"])
    if n == 0:
        ids = spark.createDataFrame([], "doc_id long, idx long")
        return ids, 0, None
    if int(stats["nd"]) == n and int(stats["lo"]) == 0 and int(stats["hi"]) == n - 1:
        ids = materialize(
            spark.table("documents")
            .select("doc_id", F.col("doc_id").cast("long").alias("idx"))
        )
    else:
        ids = materialize(
            global_row_number(
                spark.table("documents").select("doc_id"), ["doc_id"], "rn"
            )
            .select("doc_id", (F.col("rn") - 1).cast("long").alias("idx"))
        )
    hashed = _hex8_of("md5(concat(CAST(src AS STRING), ':', CAST(k AS STRING)))")
    edges = materialize(
        ids.select(F.col("idx").alias("src"))
        .select(
            "src", F.explode(F.expr(f"sequence(1, {_FANOUT})")).alias("k")
        )
        .select("src", F.expr(f"({hashed}) % {n}").alias("dst"))
        .distinct()
    )
    return ids, n, edges


def _pagerank_np_fn(n: int):
    """mapInPandas factory for the one-task route: the packed edges
    ``src * n + dst`` arrive as one array cell; the rounds are
    ``r = base + D * bincount(dst, r[src] / deg[src])`` — the same
    rank/deg quotients and per-target sums as the distributed rounds,
    summed in another order (ranks are rounded to 7 decimals)."""
    base = (1.0 - _D) / n

    def run(batches):
        for pdf in batches:
            for packed in pdf["e"]:
                e = np.asarray(packed, dtype=np.int64)
                src, dst = e // n, e % n
                deg = np.bincount(src, minlength=n)
                r = np.full(n, 1.0 / n)
                for _ in range(_ITERS):
                    s = np.bincount(dst, weights=r[src] / deg[src], minlength=n)
                    r = base + _D * s
                yield pd.DataFrame({
                    "v": np.arange(n, dtype=np.int64),
                    "rank": r,
                    "in_degree": np.bincount(dst, minlength=n),
                })

    return run


def _pagerank_np(edges: DataFrame, n: int) -> DataFrame:
    """(v, rank, in_degree) for every node from one aggregate packing the
    edges into one row and one mapInPandas task over it."""
    packed = edges.agg(
        F.collect_list(F.col("src") * F.lit(n) + F.col("dst")).alias("e")
    )
    return packed.mapInPandas(
        _pagerank_np_fn(n), "v long, rank double, in_degree long"
    )


def _pagerank_rounds(ids: DataFrame, n: int, edges: DataFrame) -> DataFrame:
    """(v, rank, in_degree) for every node from the distributed rounds."""
    # degree pre-joined into the edge list ONCE (edges are static across
    # rounds), saving one join per iteration; partitioned on src so every
    # round's rank join reuses this exchange instead of reshuffling the
    # edge list five times.
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    edges_deg = materialize(edges.join(deg, "src").repartition("src"))
    ranks = ids.select(F.col("idx").alias("v"), F.lit(1.0 / n).alias("rank"))
    base = (1.0 - _D) / n
    for _ in range(_ITERS):
        contribs = (
            edges_deg.join(ranks, edges_deg.src == F.col("v"))
            .select(F.col("dst"), (F.col("rank") / F.col("deg")).alias("c"))
        )
        sums = contribs.groupBy(F.col("dst").alias("nv")).agg(F.sum("c").alias("s"))
        ranks = materialize(
            ids.select(F.col("idx").alias("v"))
            .join(sums, F.col("v") == F.col("nv"), "left")
            .select(
                "v",
                (F.lit(base) + F.lit(_D) * F.coalesce(F.col("s"), F.lit(0.0))).alias(
                    "rank"
                ),
            )
        )
    in_deg = edges.groupBy(F.col("dst").alias("dv")).agg(
        F.count(F.lit(1)).cast("bigint").alias("in_degree")
    )
    return ranks.join(in_deg, F.col("v") == F.col("dv"), "left").select(
        "v",
        "rank",
        F.coalesce(F.col("in_degree"), F.lit(0).cast("bigint")).alias("in_degree"),
    )


def _pagerank_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    ids, n, edges = _link_graph(spark, sf_dir)
    if n == 0:
        return spark.createDataFrame([], "doc_id long, in_degree long, pagerank double")
    # packed int64 edges, n * _FANOUT of them known without a job
    if n * _FANOUT * 8 <= config.DRIVER_STATE_BYTES:
        ranks = _pagerank_np(edges, n)
    else:
        ranks = _pagerank_rounds(ids, n, edges)
    return ids.join(ranks, ids.idx == F.col("v")).select(
        "doc_id", "in_degree", F.round(F.col("rank"), 7).alias("pagerank")
    )


def _pagerank_oracle() -> str:
    hashed = _hex8_of("md5(CAST(i.idx AS STRING) || ':' || CAST(g.k AS STRING))")
    prev = "r0"
    iters = []
    for t in range(1, _ITERS + 1):
        iters.append(
            f"""r{t} AS (
      SELECT i.idx AS v,
             0.15 / (SELECT n FROM nn) + 0.85 * coalesce(s.c, 0) AS rank
      FROM ids i LEFT JOIN (
        SELECT e.dst AS v, sum(r.rank / d.deg) AS c
        FROM edges e JOIN deg d ON d.src = e.src JOIN {prev} r ON r.v = e.src
        GROUP BY e.dst
      ) s ON s.v = i.idx
    )"""
        )
        prev = f"r{t}"
    iters_sql = ",\n    ".join(iters)
    return f"""
    WITH ids AS (
      SELECT doc_id, CAST(row_number() OVER (ORDER BY doc_id) - 1 AS BIGINT) AS idx
      FROM documents
    ),
    nn AS (SELECT count(*) AS n FROM ids),
    edges AS (
      SELECT DISTINCT i.idx AS src, ({hashed}) % (SELECT n FROM nn) AS dst
      FROM ids i, (SELECT unnest(generate_series(1, {_FANOUT})) AS k) g
    ),
    deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
    r0 AS (SELECT idx AS v, 1.0 / (SELECT n FROM nn) AS rank FROM ids),
    {iters_sql}
    SELECT d.doc_id,
           CAST(coalesce(ind.c, 0) AS BIGINT) AS in_degree,
           round(r.rank, 7) AS pagerank
    FROM ids d
    JOIN {prev} r ON r.v = d.idx
    LEFT JOIN (SELECT dst, count(*) AS c FROM edges GROUP BY dst) ind
      ON ind.dst = d.idx
"""


QUERIES["q_pagerank"] = QuerySpec(
    spark=query_scope(_pagerank_spark),
    oracle=_pagerank_oracle(),
    description=(
        "PageRank (d=0.85, 5 rounds) over a deterministic md5-derived "
        "link graph: up to 4M edges one numpy task runs every round, "
        "above that an iterative DataFrame loop materializes each round; "
        "vs a 5-level unrolled-CTE oracle"
    ),
)


# ---------------------------------------------------------------------------
# Anchor-text aggregation over the same deterministic link graph: for
# each link target, the in-link count, distinct linking sources, and the
# lexicographically-first anchor phrase (anchor = the source document's
# leading 12 lowered chars — a deterministic stand-in for the <a> text a
# crawler would carry on the edge).  Anchor text is a first-class
# pretraining signal (it labels the TARGET page with how others describe
# it), and the aggregation shape — edges joined to a per-source phrase,
# grouped by target — is the canonical web-graph reduce.
#
# Scale notes: the anchor phrase rides the edge list from the map side,
# so the single shuffle carries (dst, anchor[12]) pairs and every
# aggregate (count, count distinct src over the deduped edge list, min
# anchor) combines partially.  No window, no iteration; the contiguous
# node ids reuse the two-phase global_row_number (never a single-task
# sort).
# ---------------------------------------------------------------------------


def _anchor_text_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    from .prefix import global_row_number

    docs = spark.table("documents").select("doc_id", "text")
    ids = materialize(
        global_row_number(docs.select("doc_id"), ["doc_id"], "rn")
        .select("doc_id", (F.col("rn") - 1).cast("long").alias("idx"))
    )
    n = ids.count()
    if n == 0:
        return spark.createDataFrame(
            [], "doc_id long, in_links long, n_sources long, top_anchor string"
        )
    hashed = _hex8_of("md5(concat(CAST(src AS STRING), ':', CAST(k AS STRING)))")
    edges = (
        ids.select(F.col("idx").alias("src"))
        .crossJoin(spark.range(1, _FANOUT + 1).select(F.col("id").alias("k")))
        .select("src", F.expr(f"({hashed}) % {n}").alias("dst"))
        .distinct()
    )
    anchors = ids.join(docs, "doc_id").select(
        F.col("idx").alias("src"),
        F.expr("substring(lower(trim(text)), 1, 12)").alias("anchor"),
    )
    return (
        edges.join(anchors, "src")
        .groupBy("dst")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("in_links"),
            F.countDistinct("src").cast("bigint").alias("n_sources"),
            F.min("anchor").alias("top_anchor"),
        )
        .join(ids, F.col("dst") == ids.idx)
        .select("doc_id", "in_links", "n_sources", "top_anchor")
    )


def _anchor_text_oracle() -> str:
    hashed = _hex8_of("md5(CAST(i.idx AS STRING) || ':' || CAST(g.k AS STRING))")
    return f"""
    WITH ids AS (
      SELECT doc_id, CAST(row_number() OVER (ORDER BY doc_id) - 1 AS BIGINT) AS idx
      FROM documents
    ),
    nn AS (SELECT count(*) AS n FROM ids),
    edges AS (
      SELECT DISTINCT i.idx AS src, ({hashed}) % (SELECT n FROM nn) AS dst
      FROM ids i, (SELECT unnest(generate_series(1, {_FANOUT})) AS k) g
    ),
    anchors AS (
      SELECT i.idx AS src, substring(lower(trim(d.text)), 1, 12) AS anchor
      FROM ids i JOIN documents d ON d.doc_id = i.doc_id
    )
    SELECT t.doc_id,
           CAST(count(*) AS BIGINT) AS in_links,
           CAST(count(DISTINCT e.src) AS BIGINT) AS n_sources,
           min(a.anchor) AS top_anchor
    FROM edges e
    JOIN anchors a ON a.src = e.src
    JOIN ids t ON t.idx = e.dst
    GROUP BY t.doc_id
"""


QUERIES["q_anchor_text"] = QuerySpec(
    spark=query_scope(_anchor_text_spark),
    oracle=_anchor_text_oracle(),
    description=(
        "anchor-text aggregation over the deterministic link graph: "
        "per-target in-link count, distinct sources, first anchor "
        "phrase — the canonical web-graph reduce, one shuffle"
    ),
)

# ---------------------------------------------------------------------------
# Triangle counting with degree-ordered orientation — the classic
# "compact-forward" algorithm (Latapy 2008), the shape every
# distributed triangle count uses (Cohen's MapReduce formulation,
# GraphX's TriangleCount).  The undirected graph is oriented along the
# total order (degree, id): every edge points from the lower-degree
# endpoint to the higher, so each triangle {x ≺ y ≺ z} materializes
# EXACTLY once as the wedge x→y, x→z closed by y→z — no post-hoc /6
# dedup, and the wedge fan-out per node is bounded by its out-degree,
# which the orientation caps at O(sqrt(m)) — THE property that makes
# the self-join shippable at 100 TB of edges (a high-degree hub never
# becomes a wedge apex).
#
# Output per triangle-bearing node: undirected degree, triangle count,
# and the local clustering coefficient in exact integer ppm
# (2·T·10^6 div deg·(deg−1) — integer division, no float drift).
# Scale notes: three shuffles (wedge self-join on the apex, closing
# equi-join on the (y, z) pair, corner groupBy) — all equi-joins on
# skew-bounded keys; ids from the two-phase global_row_number.
# ---------------------------------------------------------------------------


def _oriented_edges(und: DataFrame) -> DataFrame:
    """Orient distinct undirected edges (a < b) along (degree, id)."""
    deg = (
        und.select(F.col("a").alias("v"))
        .unionAll(und.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    da = deg.select(F.col("v").alias("a"), F.col("deg").alias("da"))
    db = deg.select(F.col("v").alias("b"), F.col("deg").alias("db"))
    a_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    return und.join(da, "a").join(db, "b").select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("w"),
    )


def _triangles_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    ids, n, edges = _link_graph(spark, sf_dir)
    if n == 0:
        return spark.createDataFrame(
            [], "doc_id long, degree bigint, n_triangles bigint, clustering_ppm bigint"
        )
    und = materialize(
        edges.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .distinct()
    )
    deg = (
        und.select(F.col("a").alias("v"))
        .unionAll(und.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    o = materialize(_oriented_edges(und))
    e1 = o.select("u", F.col("w").alias("x"))
    e2 = o.select("u", F.col("w").alias("y"))
    closing = o.select(F.col("u").alias("x"), F.col("w").alias("y"))
    tri = (
        e1.join(e2, "u")
        .filter(F.col("x") != F.col("y"))
        .join(closing, ["x", "y"])
    )
    corners = (
        tri.select(F.col("u").alias("v"))
        .unionAll(tri.select(F.col("x").alias("v")))
        .unionAll(tri.select(F.col("y").alias("v")))
    )
    tcnt = corners.groupBy("v").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_triangles")
    )
    return (
        tcnt.join(deg, "v")
        .join(ids, tcnt.v == ids.idx)
        .select(
            "doc_id",
            F.col("deg").cast("bigint").alias("degree"),
            "n_triangles",
            F.expr("CAST((n_triangles * 1000000 * 2) div (deg * (deg - 1)) AS BIGINT)")
            .alias("clustering_ppm"),
        )
    )


def _triangles_oracle() -> str:
    hashed = _hex8_of("md5(CAST(i.idx AS STRING) || ':' || CAST(g.k AS STRING))")
    return f"""
    WITH ids AS (
      SELECT doc_id, CAST(row_number() OVER (ORDER BY doc_id) - 1 AS BIGINT) AS idx
      FROM documents
    ),
    nn AS (SELECT count(*) AS n FROM ids),
    edges AS (
      SELECT DISTINCT i.idx AS src, ({hashed}) % (SELECT n FROM nn) AS dst
      FROM ids i, (SELECT unnest(generate_series(1, {_FANOUT})) AS k) g
    ),
    und AS (
      SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      FROM edges WHERE src <> dst
    ),
    deg AS (
      SELECT v, count(*) AS deg FROM (
        SELECT a AS v FROM und UNION ALL SELECT b AS v FROM und
      ) GROUP BY v
    ),
    o AS (
      SELECT CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND u.a < u.b)
                  THEN u.a ELSE u.b END AS u,
             CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND u.a < u.b)
                  THEN u.b ELSE u.a END AS w
      FROM und u JOIN deg da ON da.v = u.a JOIN deg db ON db.v = u.b
    ),
    tri AS (
      SELECT e1.u AS u, e1.w AS x, e2.w AS y
      FROM o e1 JOIN o e2 ON e2.u = e1.u AND e1.w <> e2.w
      JOIN o e3 ON e3.u = e1.w AND e3.w = e2.w
    ),
    corners AS (
      SELECT u AS v FROM tri
      UNION ALL SELECT x FROM tri
      UNION ALL SELECT y FROM tri
    ),
    tc AS (SELECT v, count(*) AS n_triangles FROM corners GROUP BY v)
    SELECT i.doc_id,
           CAST(d.deg AS BIGINT) AS degree,
           CAST(tc.n_triangles AS BIGINT) AS n_triangles,
           CAST((tc.n_triangles * 1000000 * 2) // (d.deg * (d.deg - 1)) AS BIGINT)
             AS clustering_ppm
    FROM tc JOIN deg d ON d.v = tc.v JOIN ids i ON i.idx = tc.v
"""


QUERIES["q_triangle_count"] = QuerySpec(
    spark=query_scope(_triangles_spark),
    oracle=_triangles_oracle(),
    description=(
        "triangle count + local clustering coefficient via degree-ordered "
        "orientation (compact-forward): each triangle materializes exactly "
        "once, wedge fan-out capped at O(sqrt(m)) per apex"
    ),
)

# ---------------------------------------------------------------------------
# Multi-source BFS hop distance — the frontier-expansion primitive under
# every graph-reachability job (crawl-depth labeling, link-spam radius,
# seed-set influence).  Seeds = every 97th node id; 4 rounds of
# frontier -> neighbor expansion label each reachable node with its first
# (= minimum) hop count, the textbook layered BFS.
#
# The SPARK side expands ONLY the newly-discovered frontier each round
# (the anti-join keeps visited nodes out), so per-round work is
# O(frontier-adjacent edges), not O(all edges x rounds) — the invariant
# that makes iterative BFS shippable when the reachable set is a small
# slice of a 10^12-node graph.  Each round is one equi-join shuffle on
# src plus one anti-join on the visited set, and each round's frontier
# is materialized so the next round reads it from cache.  The ORACLE unrolls 4 relaxation
# rounds (d_r = min(d_{r-1}, min over edges of d_{r-1}(u) + 1)) as
# nested CTEs — relaxation over the full set and frontier-only expansion
# provably agree (BFS layer monotonicity), so the gate checks the
# frontier optimization against declarative semantics.
# ---------------------------------------------------------------------------

_SEED_MOD = 97
_BFS_HOPS = 4


def _bfs_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    ids, n, edges = _link_graph(spark, sf_dir)
    if n == 0:
        return spark.createDataFrame([], "doc_id long, hops bigint")
    # static edge list partitioned ONCE on the per-round join key: each
    # round then shuffles only the (small) frontier, not the 10^12-edge
    # frame again (same move as q_pagerank's edges_deg repartition)
    edges_by_src = materialize(edges.repartition("src"))
    dist = materialize(
        ids.filter(F.col("idx") % _SEED_MOD == 0)
        .select(F.col("idx").alias("v"), F.lit(0).cast("bigint").alias("hops"))
    )
    frontier = dist
    for r in range(1, _BFS_HOPS + 1):
        reached = (
            edges_by_src.join(frontier, edges_by_src.src == frontier.v)
            .select(F.col("dst").alias("nv"))
            .distinct()
        )
        newly = materialize(
            reached.join(dist, reached.nv == dist.v, "left_anti")
            .select(F.col("nv").alias("v"), F.lit(r).cast("bigint").alias("hops"))
        )
        dist = dist.unionAll(newly)
        frontier = newly
    return ids.join(dist, ids.idx == dist.v).select("doc_id", "hops")


def _bfs_oracle() -> str:
    hashed = _hex8_of("md5(CAST(i.idx AS STRING) || ':' || CAST(g.k AS STRING))")
    prev = "d0"
    rounds = []
    for r in range(1, _BFS_HOPS + 1):
        rounds.append(
            f"""d{r} AS (
      SELECT v, min(hops) AS hops FROM (
        SELECT v, hops FROM {prev}
        UNION ALL
        SELECT e.dst AS v, p.hops + 1 AS hops
        FROM edges e JOIN {prev} p ON p.v = e.src
      ) GROUP BY v
    )"""
        )
        prev = f"d{r}"
    rounds_sql = ",\n    ".join(rounds)
    return f"""
    WITH ids AS (
      SELECT doc_id, CAST(row_number() OVER (ORDER BY doc_id) - 1 AS BIGINT) AS idx
      FROM documents
    ),
    nn AS (SELECT count(*) AS n FROM ids),
    edges AS (
      SELECT DISTINCT i.idx AS src, ({hashed}) % (SELECT n FROM nn) AS dst
      FROM ids i, (SELECT unnest(generate_series(1, {_FANOUT})) AS k) g
    ),
    d0 AS (
      SELECT idx AS v, CAST(0 AS BIGINT) AS hops FROM ids WHERE idx % {_SEED_MOD} = 0
    ),
    {rounds_sql}
    SELECT i.doc_id, CAST(d.hops AS BIGINT) AS hops
    FROM {prev} d JOIN ids i ON i.idx = d.v
"""


QUERIES["q_bfs_distance"] = QuerySpec(
    spark=query_scope(_bfs_spark),
    oracle=_bfs_oracle(),
    description=(
        "multi-source layered BFS (4 rounds) over the deterministic link "
        "graph: frontier-only expansion with anti-join visited set vs an "
        "unrolled relaxation-CTE oracle"
    ),
)

# ---------------------------------------------------------------------------
# Deterministic random-walk corpus generation — the sampling primitive
# under DeepWalk/node2vec-style graph embeddings: each seed emits one
# fixed-length walk, and the walk rows ARE the training corpus the
# skip-gram stage consumes.  Seeds = every 31st node; 4 steps; the step-t
# "coin" is hex8(md5(cur || '#' || t)) mod outdeg(cur), indexing the
# current node's dst-sorted neighbor list — fully deterministic, so the
# gate hash-checks every visited position.
#
# The SPARK side ranks each node's neighbors once (row_number + count
# windows PARTITIONED BY src — never global), materializes the ranked edge
# list, then advances all walks in lockstep: one equi-join per step on
# (src = cur, rnk = coin), each step's state materialized.  Per-step
# work is O(|frontier|) joined rows — at 10^12 nodes with a seed sample
# this is the standard embarrassingly-parallel walk batch.  The ORACLE
# unrolls the same 4 steps as nested CTEs.
# ---------------------------------------------------------------------------

_WALK_SEED_MOD = 31
_WALK_STEPS = 4


def _walk_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ids, n, edges = _link_graph(spark, sf_dir)
    if n == 0:
        return spark.createDataFrame(
            [], "seed_doc long, step bigint, node_doc long"
        )
    w = Window.partitionBy("src").orderBy("dst")
    ranked = materialize(
        edges.select(
            "src",
            "dst",
            (F.row_number().over(w) - 1).cast("bigint").alias("rnk"),
            F.count(F.lit(1)).over(Window.partitionBy("src")).cast("bigint").alias("deg"),
        )
    )
    state = ids.filter(F.col("idx") % _WALK_SEED_MOD == 0).select(
        F.col("idx").alias("seed"), F.col("idx").alias("cur")
    )
    positions = [state.select("seed", F.lit(0).cast("bigint").alias("step"), F.col("cur").alias("node"))]
    for t in range(1, _WALK_STEPS + 1):
        coin = _hex8_of(f"md5(concat(CAST(cur AS STRING), '#', '{t}'))")
        state = materialize(
            state.join(ranked, state.cur == ranked.src)
            .filter(F.col("rnk") == F.expr(f"({coin}) % deg"))
            .select("seed", F.col("dst").alias("cur"))
        )
        positions.append(
            state.select("seed", F.lit(t).cast("bigint").alias("step"), F.col("cur").alias("node"))
        )
    walk = positions[0]
    for p in positions[1:]:
        walk = walk.unionAll(p)
    i_s = ids.select(F.col("idx").alias("seed"), F.col("doc_id").alias("seed_doc"))
    i_n = ids.select(F.col("idx").alias("node"), F.col("doc_id").alias("node_doc"))
    return (
        walk.join(i_s, "seed").join(i_n, "node").select("seed_doc", "step", "node_doc")
    )


def _walk_oracle() -> str:
    hashed = _hex8_of("md5(CAST(i.idx AS STRING) || ':' || CAST(g.k AS STRING))")
    prev = "w0"
    steps, unions = [], ["SELECT seed, CAST(0 AS BIGINT) AS step, cur FROM w0"]
    for t in range(1, _WALK_STEPS + 1):
        coin = _hex8_of(f"md5(CAST(p.cur AS STRING) || '#' || '{t}')")
        steps.append(
            f"""w{t} AS (
      SELECT p.seed, r.dst AS cur
      FROM {prev} p JOIN ranked r
        ON r.src = p.cur AND r.rnk = ({coin}) % r.deg
    )"""
        )
        unions.append(f"SELECT seed, CAST({t} AS BIGINT) AS step, cur FROM w{t}")
        prev = f"w{t}"
    steps_sql = ",\n    ".join(steps)
    unions_sql = "\n      UNION ALL ".join(unions)
    return f"""
    WITH ids AS (
      SELECT doc_id, CAST(row_number() OVER (ORDER BY doc_id) - 1 AS BIGINT) AS idx
      FROM documents
    ),
    nn AS (SELECT count(*) AS n FROM ids),
    edges AS (
      SELECT DISTINCT i.idx AS src, ({hashed}) % (SELECT n FROM nn) AS dst
      FROM ids i, (SELECT unnest(generate_series(1, {_FANOUT})) AS k) g
    ),
    ranked AS (
      SELECT src, dst,
             CAST(row_number() OVER (PARTITION BY src ORDER BY dst) - 1 AS BIGINT) AS rnk,
             CAST(count(*) OVER (PARTITION BY src) AS BIGINT) AS deg
      FROM edges
    ),
    w0 AS (
      SELECT idx AS seed, idx AS cur FROM ids WHERE idx % {_WALK_SEED_MOD} = 0
    ),
    {steps_sql},
    walk AS (
      {unions_sql}
    )
    SELECT i_s.doc_id AS seed_doc, w.step, i_n.doc_id AS node_doc
    FROM walk w JOIN ids i_s ON i_s.idx = w.seed JOIN ids i_n ON i_n.idx = w.cur
"""


QUERIES["q_random_walks"] = QuerySpec(
    spark=query_scope(_walk_spark),
    oracle=_walk_oracle(),
    description=(
        "deterministic DeepWalk-style walk corpus (4 steps from every "
        "31st node, md5-coin neighbor choice): lockstep per-step "
        "equi-joins over a rank-indexed neighbor list vs an unrolled-CTE "
        "oracle"
    ),
)

# ---------------------------------------------------------------------------
# Label propagation community detection (synchronous, 3 rounds) — the
# cheap community primitive (Raghavan et al. 2007) behind host-level
# spam clustering and topic-neighborhood grouping.  Distinct from the
# connected-components fixpoint (min-label) and from PageRank (weighted
# mass): each round every node adopts the MODE of its neighbors' labels
# (argmax count, ties broken by the smaller label), which needs a
# grouped count + per-node top-1 — the argmax-per-key shape.
#
# Determinism: synchronous updates + total tie order (count DESC, label
# ASC) make round t a pure function of round t-1, so Spark's loop and
# the oracle's 3 unrolled CTE rounds agree exactly.  Scale notes: per
# round one (v, label) count shuffle + one top-1 window PARTITIONED BY v
# (never global); each round's labels are materialized.
# ---------------------------------------------------------------------------

_LP_ROUNDS = 3


def _lp_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ids, n, edges = _link_graph(spark, sf_dir)
    if n == 0:
        return spark.createDataFrame(
            [], "doc_id long, community long, community_size bigint"
        )
    und = (
        edges.filter(F.col("src") != F.col("dst"))
        .select(F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b"))
        .distinct()
    )
    # static neighbor list partitioned ONCE on the per-round join key
    # (u): each vote round shuffles only the label frame, not the edges
    nbrs = materialize(
        und.select(F.col("a").alias("v"), F.col("b").alias("u"))
        .unionAll(und.select(F.col("b").alias("v"), F.col("a").alias("u")))
        .repartition("u")
    )
    labels = ids.select(F.col("idx").alias("v"), F.col("idx").alias("lbl"))
    top1 = Window.partitionBy("v").orderBy(F.desc("cnt"), F.asc("lbl"))
    for _ in range(_LP_ROUNDS):
        votes = (
            nbrs.join(labels.select(F.col("v").alias("u"), "lbl"), "u")
            .groupBy("v", "lbl")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        picked = (
            votes.withColumn("rn", F.row_number().over(top1))
            .filter(F.col("rn") == 1)
            .select("v", "lbl")
        )
        labels = materialize(
            ids.select(F.col("idx").alias("v"))
            .join(picked, "v", "left")
            .select("v", F.coalesce(F.col("lbl"), F.col("v")).alias("lbl"))
        )
    sizes = labels.groupBy("lbl").agg(F.count(F.lit(1)).cast("bigint").alias("community_size"))
    lbl_doc = ids.select(F.col("idx").alias("lbl"), F.col("doc_id").alias("community"))
    return (
        labels.join(sizes, "lbl")
        .join(lbl_doc, "lbl")
        .join(ids, labels.v == ids.idx)
        .select("doc_id", "community", "community_size")
    )


def _lp_oracle() -> str:
    hashed = _hex8_of("md5(CAST(i.idx AS STRING) || ':' || CAST(g.k AS STRING))")
    prev = "l0"
    rounds = []
    for t in range(1, _LP_ROUNDS + 1):
        rounds.append(
            f"""v{t} AS (
      SELECT nb.v, l.lbl, count(*) AS cnt
      FROM nbrs nb JOIN {prev} l ON l.v = nb.u
      GROUP BY nb.v, l.lbl
    ),
    p{t} AS (
      SELECT v, lbl FROM (
        SELECT v, lbl,
               row_number() OVER (PARTITION BY v ORDER BY cnt DESC, lbl ASC) AS rn
        FROM v{t}
      ) WHERE rn = 1
    ),
    l{t} AS (
      SELECT i.idx AS v, coalesce(p.lbl, i.idx) AS lbl
      FROM ids i LEFT JOIN p{t} p ON p.v = i.idx
    )"""
        )
        prev = f"l{t}"
    rounds_sql = ",\n    ".join(rounds)
    return f"""
    WITH ids AS (
      SELECT doc_id, CAST(row_number() OVER (ORDER BY doc_id) - 1 AS BIGINT) AS idx
      FROM documents
    ),
    nn AS (SELECT count(*) AS n FROM ids),
    edges AS (
      SELECT DISTINCT i.idx AS src, ({hashed}) % (SELECT n FROM nn) AS dst
      FROM ids i, (SELECT unnest(generate_series(1, {_FANOUT})) AS k) g
    ),
    und AS (
      SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      FROM edges WHERE src <> dst
    ),
    nbrs AS (
      SELECT a AS v, b AS u FROM und UNION ALL SELECT b AS v, a AS u FROM und
    ),
    l0 AS (SELECT idx AS v, idx AS lbl FROM ids),
    {rounds_sql},
    sizes AS (SELECT lbl, CAST(count(*) AS BIGINT) AS community_size FROM {prev} GROUP BY lbl)
    SELECT i.doc_id,
           li.doc_id AS community,
           s.community_size
    FROM {prev} l
    JOIN ids i ON i.idx = l.v
    JOIN ids li ON li.idx = l.lbl
    JOIN sizes s ON s.lbl = l.lbl
"""


QUERIES["q_label_prop"] = QuerySpec(
    spark=query_scope(_lp_spark),
    oracle=_lp_oracle(),
    description=(
        "synchronous label propagation (3 rounds, argmax-count with "
        "deterministic ties): per-round grouped vote + per-node top-1 "
        "window vs 3 unrolled CTE rounds"
    ),
)

# ---------------------------------------------------------------------------
# HITS hubs & authorities (2 unrolled rounds, UNNORMALIZED) — the
# mutual-recursion ranking (Kleinberg 1999) that separates "pages that
# point well" from "pages worth pointing at"; distinct from PageRank
# (single self-recursive mass) and from plain degree counts.  Dropping
# the per-round normalization keeps every score an exact int64 — the
# ranking it induces is identical (normalization is a positive scalar)
# and the gate hash-checks the scores bit-for-bit, no float rounding.
#
#   a1(v) = |in(v)|            (all h0 = 1)
#   h1(v) = sum_{v->w} a1(w)
#   a2(v) = sum_{u->v} h1(u)
#
# Scale notes: each half-round is one map-side-combinable groupBy over
# the edge list joined to the previous half-round's skinny score frame;
# no windows, no iteration state beyond one (v, score) frame per step.
# ---------------------------------------------------------------------------


def _hits_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    ids, n, edges = _link_graph(spark, sf_dir)
    if n == 0:
        return spark.createDataFrame(
            [], "doc_id long, hub_score bigint, auth_score bigint"
        )
    a1 = edges.groupBy(F.col("dst").alias("v")).agg(
        F.count(F.lit(1)).cast("bigint").alias("a1")
    )
    h1 = (
        edges.join(a1, edges.dst == a1.v)
        .groupBy(F.col("src").alias("hv"))
        .agg(F.sum("a1").cast("bigint").alias("h1"))
    )
    a2 = (
        edges.join(h1, edges.src == F.col("hv"))
        .groupBy(F.col("dst").alias("av"))
        .agg(F.sum("h1").cast("bigint").alias("a2"))
    )
    return (
        ids.join(h1, ids.idx == F.col("hv"), "left")
        .join(a2, ids.idx == F.col("av"), "left")
        .select(
            "doc_id",
            F.coalesce(F.col("h1"), F.lit(0)).cast("bigint").alias("hub_score"),
            F.coalesce(F.col("a2"), F.lit(0)).cast("bigint").alias("auth_score"),
        )
    )


def _hits_oracle() -> str:
    hashed = _hex8_of("md5(CAST(i.idx AS STRING) || ':' || CAST(g.k AS STRING))")
    return f"""
    WITH ids AS (
      SELECT doc_id, CAST(row_number() OVER (ORDER BY doc_id) - 1 AS BIGINT) AS idx
      FROM documents
    ),
    nn AS (SELECT count(*) AS n FROM ids),
    edges AS (
      SELECT DISTINCT i.idx AS src, ({hashed}) % (SELECT n FROM nn) AS dst
      FROM ids i, (SELECT unnest(generate_series(1, {_FANOUT})) AS k) g
    ),
    a1 AS (SELECT dst AS v, count(*) AS a1 FROM edges GROUP BY dst),
    h1 AS (
      SELECT e.src AS v, sum(a.a1) AS h1
      FROM edges e JOIN a1 a ON a.v = e.dst GROUP BY e.src
    ),
    a2 AS (
      SELECT e.dst AS v, sum(h.h1) AS a2
      FROM edges e JOIN h1 h ON h.v = e.src GROUP BY e.dst
    )
    SELECT i.doc_id,
           CAST(coalesce(h.h1, 0) AS BIGINT) AS hub_score,
           CAST(coalesce(a.a2, 0) AS BIGINT) AS auth_score
    FROM ids i
    LEFT JOIN h1 h ON h.v = i.idx
    LEFT JOIN a2 a ON a.v = i.idx
"""


QUERIES["q_hits_scores"] = QuerySpec(
    spark=query_scope(_hits_spark),
    oracle=_hits_oracle(),
    description=(
        "HITS hubs & authorities, 2 unrolled rounds kept unnormalized so "
        "every score is exact int64 (same induced ranking): per-round "
        "combinable groupBys over the edge list, no windows"
    ),
)

# ---------------------------------------------------------------------------
# Degree distribution (log2-binned) — the first profiling pass over any
# web graph: how heavy is the tail, how many hubs, is the fan-out
# bounded — the facts that decide salting/broadcast strategy for every
# downstream graph join (and the power-law check crawl QA reads).  Bins
# are exact integer log2 buckets computed from the binary-digit count
# (length(bin(deg)) - 1) — no float log anywhere, so power-of-two
# degrees are bin-exact in both engines.  One in-degree rollup + one
# bounded bin rollup, both map-side combinable.
# ---------------------------------------------------------------------------


def _degree_hist_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    ids, n, edges = _link_graph(spark, sf_dir)
    if n == 0:
        return spark.createDataFrame(
            [], "degree_bin bigint, bin_floor bigint, n_nodes bigint"
        )
    ind = edges.groupBy(F.col("dst").alias("v")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    full = (
        ids.join(ind, ids.idx == ind.v, "left")
        .select(F.coalesce(F.col("deg"), F.lit(0)).alias("deg"))
    )
    # integer log2 via the binary-digit count (length(bin(deg)) - 1):
    # pure integer/string ops, no float log, so power-of-two degrees
    # can't drift across engines (ADVICE r03)
    bin_expr = F.expr(
        "CASE WHEN deg = 0 THEN -1 "
        "ELSE CAST(length(bin(CAST(deg AS BIGINT))) - 1 AS BIGINT) END"
    )
    return (
        full.select(bin_expr.alias("degree_bin"))
        .groupBy("degree_bin")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_nodes"))
        .select(
            "degree_bin",
            F.expr(
                "CAST(CASE WHEN degree_bin < 0 THEN 0 "
                "ELSE shiftleft(CAST(1 AS BIGINT), CAST(degree_bin AS INT)) "
                "END AS BIGINT)"
            ).alias("bin_floor"),
            "n_nodes",
        )
    )


def _degree_hist_oracle() -> str:
    hashed = _hex8_of("md5(CAST(i.idx AS STRING) || ':' || CAST(g.k AS STRING))")
    return f"""
    WITH ids AS (
      SELECT doc_id, CAST(row_number() OVER (ORDER BY doc_id) - 1 AS BIGINT) AS idx
      FROM documents
    ),
    nn AS (SELECT count(*) AS n FROM ids),
    edges AS (
      SELECT DISTINCT i.idx AS src, ({hashed}) % (SELECT n FROM nn) AS dst
      FROM ids i, (SELECT unnest(generate_series(1, {_FANOUT})) AS k) g
    ),
    ind AS (SELECT dst AS v, count(*) AS deg FROM edges GROUP BY dst),
    full_d AS (
      SELECT coalesce(ind.deg, 0) AS deg FROM ids LEFT JOIN ind ON ind.v = ids.idx
    ),
    binned AS (
      SELECT CASE WHEN deg = 0 THEN -1
                  ELSE CAST(length(bin(CAST(deg AS BIGINT))) - 1 AS BIGINT) END
               AS degree_bin
      FROM full_d
    )
    SELECT CAST(degree_bin AS BIGINT) AS degree_bin,
           CAST(CASE WHEN degree_bin < 0 THEN 0
                     ELSE CAST(1 AS BIGINT) << CAST(degree_bin AS INT)
                END AS BIGINT)
             AS bin_floor,
           CAST(count(*) AS BIGINT) AS n_nodes
    FROM binned GROUP BY degree_bin
"""


QUERIES["q_degree_histogram"] = QuerySpec(
    spark=query_scope(_degree_hist_spark),
    oracle=_degree_hist_oracle(),
    description=(
        "log2-binned in-degree distribution of the link graph (0-degree "
        "bin included): the tail-heaviness profile that picks join "
        "strategy; two combinable rollups"
    ),
)


# ---------------------------------------------------------------------------
# q_kcore — k-core decomposition by FIXED-ROUND peel, the graph-side
# quality filter web curation pipelines run before trusting link signals
# (spam rings and orphan pages fall out of the 3-core; what survives is
# the densely-connected backbone).  Peeling is the textbook iterative
# deletion: drop every node whose degree WITHIN the survivor set is < K,
# recompute, repeat.  Convergence is data-dependent, so the QUERY is
# defined as an 8-ROUND peel (deterministic on both engines regardless
# of convergence; on this graph family 8 rounds converges — pinned by
# tests/test_round4_ops.py's fixpoint check).  Same engine split as
# q_pagerank's distributed route: the Spark side loops DataFrame rounds,
# materializing each (Spark inlines repeated CTE refs — a single unrolled
# SQL would re-evaluate round r inside every round > r), the DuckDB
# oracle unrolls the rounds as a CTE chain (DuckDB materializes them).
# Scale shape: each round is one self-join of the undirected edge list
# against the shrinking survivor set + a map-side-combinable count —
# shuffle keyed on vertex id, no global state anywhere.
# ---------------------------------------------------------------------------

_KCORE_K = 3
_KCORE_ROUNDS = 8


def _kcore_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    ids, n, edges = _link_graph(spark, sf_dir)
    out_schema = "doc_id string, in_core int, core_deg long"
    if n == 0:
        return spark.createDataFrame([], out_schema)
    und = materialize(
        edges.filter("src <> dst")
        .select("src", "dst")
        .union(edges.filter("src <> dst").select(F.col("dst").alias("src"),
                                                 F.col("src").alias("dst")))
        .distinct()
        .repartition("src")
    )
    surv = ids.select(F.col("idx").alias("v"))

    def deg_within(s: DataFrame) -> DataFrame:
        a = s.select(F.col("v").alias("sv"))
        b = s.select(F.col("v").alias("dv"))
        return (
            und.join(a, und.src == F.col("sv"))
            .join(b, und.dst == F.col("dv"))
            .groupBy(F.col("src").alias("v"))
            .agg(F.count(F.lit(1)).alias("c"))
        )

    for _ in range(_KCORE_ROUNDS):
        surv = materialize(
            deg_within(surv)
            .filter(F.col("c") >= _KCORE_K)
            .select("v")
        )
    final_deg = deg_within(surv)
    return (
        ids.join(surv, ids.idx == surv.v, "left")
        .join(final_deg.select(F.col("v").alias("fv"), "c"),
              ids.idx == F.col("fv"), "left")
        .select(
            "doc_id",
            F.when(F.col("v").isNull(), F.lit(0)).otherwise(F.lit(1)).alias("in_core"),
            F.coalesce(F.col("c"), F.lit(0)).cast("long").alias("core_deg"),
        )
    )


def _kcore_oracle() -> str:
    hashed = _hex8_of("md5(CAST(i.idx AS STRING) || ':' || CAST(g.k AS STRING))")
    rounds = []
    prev = "s0"
    for r in range(1, _KCORE_ROUNDS + 1):
        rounds.append(
            f"""s{r} AS (
      SELECT e.src AS v FROM und e
      JOIN {prev} a ON a.v = e.src JOIN {prev} b ON b.v = e.dst
      GROUP BY e.src HAVING count(*) >= {_KCORE_K}
    )"""
        )
        prev = f"s{r}"
    rounds_sql = ",\n    ".join(rounds)
    return f"""
    WITH ids AS (
      SELECT doc_id, CAST(row_number() OVER (ORDER BY doc_id) - 1 AS BIGINT) AS idx
      FROM documents
    ),
    nn AS (SELECT count(*) AS n FROM ids),
    edges AS (
      SELECT DISTINCT i.idx AS src, ({hashed}) % (SELECT n FROM nn) AS dst
      FROM ids i, (SELECT unnest(generate_series(1, {_FANOUT})) AS k) g
    ),
    und AS (
      SELECT DISTINCT src, dst FROM (
        SELECT src, dst FROM edges WHERE src <> dst
        UNION ALL
        SELECT dst AS src, src AS dst FROM edges WHERE src <> dst
      ) t
    ),
    s0 AS (SELECT idx AS v FROM ids),
    {rounds_sql},
    fdeg AS (
      SELECT e.src AS v, count(*) AS c FROM und e
      JOIN {prev} a ON a.v = e.src JOIN {prev} b ON b.v = e.dst
      GROUP BY e.src
    )
    SELECT i.doc_id,
           CASE WHEN s.v IS NULL THEN 0 ELSE 1 END AS in_core,
           CAST(coalesce(f.c, 0) AS BIGINT) AS core_deg
    FROM ids i
    LEFT JOIN {prev} s ON s.v = i.idx
    LEFT JOIN fdeg f ON f.v = i.idx
"""


QUERIES["q_kcore"] = QuerySpec(
    spark=query_scope(_kcore_spark),
    oracle=_kcore_oracle(),
    description=(
        f"{_KCORE_K}-core membership + within-core degree by an "
        f"{_KCORE_ROUNDS}-round peel: iterative survivor-set DataFrame "
        "loop vs unrolled-CTE oracle (graph-side spam/quality filter)"
    ),
)
