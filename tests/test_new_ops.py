"""Semantic edge cases for the round-2 additions: as-of join boundary
behavior, connected-components transitivity, and the two-phase global rank.
(Cross-engine value parity for all three is covered by
tests/test_queries_oracle.py; these pin the semantics the oracle data may
not exercise.)"""

import pandas as pd
import pytest

from bsc_project_spark import config
from bsc_project_spark.queries import textops
from bsc_project_spark.queries.eventops import _ASOF_SPARK
from bsc_project_spark.queries.textops import connected_components


def test_asof_boundary_semantics(spark):
    # us timeline (user 1): purchase@100 (rate 2.0), purchase@300 (rate 3.0)
    # clicks at 50 (no prior -> NULL), 100 (same instant -> inclusive, 2.0),
    # 200 (-> 2.0), 300 (-> 3.0), 400 (-> 3.0).  user 2 has no purchases.
    rows = [
        (0, "1970-01-01 00:00:00.000100", 1, "purchase", 2.0),
        (1, "1970-01-01 00:00:00.000300", 1, "purchase", 3.0),
        (10, "1970-01-01 00:00:00.000050", 1, "click", 0.0),
        (11, "1970-01-01 00:00:00.000100", 1, "click", 0.0),
        (12, "1970-01-01 00:00:00.000200", 1, "click", 0.0),
        (13, "1970-01-01 00:00:00.000300", 1, "click", 0.0),
        (14, "1970-01-01 00:00:00.000400", 1, "click", 0.0),
        (20, "1970-01-01 00:00:00.000200", 2, "click", 0.0),
    ]
    df = spark.createDataFrame(
        [(i, ts, u, et, v) for i, ts, u, et, v in rows],
        "event_id long, ts_s string, user_id long, event_type string, value double",
    ).selectExpr(
        "event_id", "CAST(ts_s AS TIMESTAMP_NTZ) AS ts", "user_id", "event_type", "value"
    )
    from bsc_project_spark.queries import _REGISTERED_DIRS

    df.createOrReplaceTempView("events")
    try:
        got = {r.event_id: r.rate for r in spark.sql(_ASOF_SPARK).collect()}
    finally:
        # other tests share this session: drop the clobbered view and force
        # register_views to rebuild real testdata views on next use
        spark.catalog.dropTempView("events")
        _REGISTERED_DIRS.clear()
    assert got == {10: None, 11: 2.0, 12: 2.0, 13: 3.0, 14: 3.0, 20: None}


_CC_EXPECTED = {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


def _cc_pairs(spark):
    # chain 1-2-3-4 (diameter 3, needs >1 round), pair 10-11, and an
    # isolated-from-the-chain triangle 20-21-22
    return spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (20, 22)],
        "a_id long, b_id long",
    )


def test_connected_components_transitive_chain(spark):
    # default path: edge count under the driver budget -> union-find
    out = connected_components(_cc_pairs(spark)).toPandas()
    labels = dict(zip(out["node"], out["label"]))
    assert labels == _CC_EXPECTED


def _distributed_cc(monkeypatch, pairs):
    # a driver budget of 0 forces the distributed pointer-jump fixpoint
    with monkeypatch.context() as m:
        m.setattr(config, "DRIVER_STATE_BYTES", 0)
        return connected_components(pairs).toPandas()


def test_connected_components_distributed_path_agrees(spark, monkeypatch):
    # both strategies must label identically
    out = _distributed_cc(monkeypatch, _cc_pairs(spark))
    labels = dict(zip(out["node"], out["label"]))
    assert labels == _CC_EXPECTED


def test_connected_components_self_loop_only_node_kept(spark, monkeypatch):
    """A node whose only edge is a self-loop is a singleton component and
    must appear in every strategy's output."""
    pairs = spark.createDataFrame([(5, 5), (1, 2)], "a_id long, b_id long")
    expected = {5: 5, 1: 1, 2: 1}
    for out in (connected_components(pairs).toPandas(), _distributed_cc(monkeypatch, pairs)):
        assert dict(zip(out["node"].astype(int), out["label"].astype(int))) == expected


def _uf_oracle(edge_list):
    parent = {}

    def find(x):
        while parent.get(x, x) != x:
            parent[x] = parent.get(parent[x], parent[x])
            x = parent[x]
        return x

    for a, b in edge_list:
        ra, rb = find(a), find(b)
        if ra != rb:
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    nodes = {n for e in edge_list for n in e}
    return {n: find(n) for n in nodes}


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_all_cc_strategies_match_union_find_on_random_graphs(spark, seed, monkeypatch):
    """Random graphs (chains, hubs, isolated pairs arise naturally):
    driver union-find and the pointer-jump fixpoint must produce the
    union-find oracle's (node -> component-min) labelings."""
    import random

    rng = random.Random(seed)
    n_nodes = rng.randint(8, 30)
    edge_list = sorted(
        {
            tuple(sorted(rng.sample(range(n_nodes), 2)))
            for _ in range(rng.randint(4, 40))
        }
    )
    expected = _uf_oracle(edge_list)
    pairs = spark.createDataFrame(edge_list, "a_id long, b_id long")
    for out in (connected_components(pairs).toPandas(), _distributed_cc(monkeypatch, pairs)):
        got = dict(zip(out["node"].astype(int), out["label"].astype(int)))
        assert got == expected


def test_two_phase_rank_is_dense_and_ordered(spark, tmp_path):
    # build a tiny documents parquet with a controlled sort order
    pdf = pd.DataFrame(
        {
            "doc_id": [5, 3, 1, 4, 2, 0],
            "text": ["x"] * 6,
            "lang": ["en"] * 6,
            "source": ["b", "a", "b", "a", "a", "b"],
            "n_chars": [1] * 6,
        }
    )
    sf_dir = str(tmp_path)
    pdf.to_parquet(f"{sf_dir}/documents.parquet")
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "embeddings"):
        pdf[["doc_id"]].to_parquet(f"{sf_dir}/{t}.parquet")
    from bsc_project_spark.queries import all_queries

    out = all_queries()["q_sort_rank"].spark(spark, sf_dir).toPandas()
    got = dict(zip(out["doc_id"], out["rnk"]))
    # expected global order: (a,2) (a,3) (a,4) (b,0) (b,1) (b,5)
    assert got == {2: 1, 3: 2, 4: 3, 0: 4, 1: 5, 5: 6}


def test_connected_components_star_raises_on_round_exhaustion(spark, monkeypatch):
    """Exhausting _CC_MAX_ROUNDS before a round that changes no label must
    raise on the distributed fixpoint, not silently return labels that
    are not component minima."""
    import pytest

    # a 21-node path needs several pointer-jump rounds; one round cannot
    # reach the fixpoint
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(20)], "a_id long, b_id long"
    )
    monkeypatch.setattr(textops, "_CC_MAX_ROUNDS", 1)
    with pytest.raises(RuntimeError, match="after 1 rounds; raise _CC_MAX_ROUNDS"):
        _distributed_cc(monkeypatch, pairs)


def test_cms_estimate_never_undercounts(spark):
    """Count-Min property: the sketch estimate is >= the exact count for
    every probed token (collisions only ever ADD)."""
    from bsc_project_spark.queries import all_queries

    rows = all_queries()["q_cms_topk"].spark(spark, "/root/testdata/sf0.001").collect()
    assert rows
    assert all(r.cms_estimate >= r.n_exact for r in rows), rows
