"""Equivalence + driver-contract pins for the two lloyd_assign routes
(queries/similarity.py), picked by k*d*8 bytes against
``config.DRIVER_STATE_BYTES``.

q_semantic_dedup derives K from corpus size, so a driver-held k x d
centroid state would grow linearly with the corpus at 10^9+ vectors.
Above the ceiling the centroid state stays a DataFrame end to end
(``_lloyd_assign_frames`` — two-phase-rank seeds, groupBy(cid, pos)
updates written back to a centroid frame, materialized each iteration);
below it the numpy route (``_lloyd_np_fn``) does one matmul per
partition.  These tests pin:

  1. both routes (numpy matmul, distributed frames) produce IDENTICAL
     assignments on the same corpus at two k — including under planted
     duplicate seed vectors, which force rounded-cosine ties that must
     break on the smaller centroid_id;
  2. above the ceiling the distributed route really is taken and the
     driver-held numpy machinery is never touched (bombed);
  3. ragged vectors raise on either route instead of being truncated;
  4. the exact HALF_UP shortest-repr rounding helper matches Spark's
     round(x, 5) on adversarial values (the numpy route's only
     re-implemented scalar op).
"""

from __future__ import annotations

import numpy as np
import pytest

import bsc_project_spark.queries.similarity as sim
from bsc_project_spark import config

D = 16
N = 400


@pytest.fixture(scope="module")
def corpus(spark):
    """400 vectors around 20 anchors, with anchor 1 a BYTE-IDENTICAL clone
    of anchor 0 (ids 0 and 1): the first two Lloyd seeds are equal, so
    every vector's cosine ties between centroids 0 and 1 and the
    (cos DESC, cid ASC) rule is load-bearing on every row."""
    rng = np.random.RandomState(11)
    anchors = rng.randn(20, D) * 8.0
    anchors[1] = anchors[0]
    rows = []
    for i in range(20):
        rows.append((i, anchors[i].tolist()))
    vid = 20
    while vid < N:
        a = anchors[vid % 20]
        rows.append((vid, (a + rng.randn(D) * 0.05).tolist()))
        vid += 1
    return spark.createDataFrame(rows, "vec_id long, v array<double>")


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _frames_route(monkeypatch):
    monkeypatch.setattr(config, "DRIVER_STATE_BYTES", 0)


def test_numpy_and_frames_routes_agree(spark, corpus, monkeypatch):
    # k*d = 320 and 1280, both far below the ceiling: the numpy route
    ks = (20, 80)
    numpy_route = [_rows(sim.lloyd_assign(spark, corpus, iters=2, k=k)) for k in ks]
    _frames_route(monkeypatch)
    frames = [_rows(sim.lloyd_assign(spark, corpus, iters=2, k=k)) for k in ks]
    assert numpy_route == frames


def test_above_ceiling_routes_distributed_zero_driver_state(
    spark, corpus, monkeypatch
):
    """Above the ceiling lloyd_assign must route through
    _lloyd_assign_frames with the driver-held machinery bombed: no seed
    collect, no numpy centroid closure, no per-iteration partials collect
    ever runs."""
    called = {}
    orig = sim._lloyd_assign_frames

    def spy(*a, **k):
        called["frames"] = True
        return orig(*a, **k)

    def bomb(*a, **k):  # pragma: no cover - firing IS the failure
        raise AssertionError("driver-held centroid state materialized")

    _frames_route(monkeypatch)
    monkeypatch.setattr(sim, "_lloyd_assign_frames", spy)
    monkeypatch.setattr(sim, "_lloyd_np_fn", bomb)
    got = sim.lloyd_assign(spark, corpus, iters=1, k=8)
    n = got.count()
    assert called.get("frames") and n == N


def test_frames_plan_has_no_single_partition(spark, corpus, monkeypatch):
    _frames_route(monkeypatch)
    got = sim.lloyd_assign(spark, corpus, iters=1, k=8)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan


@pytest.mark.parametrize("extra", [1, -1], ids=["longer", "shorter"])
@pytest.mark.parametrize("route", ["numpy", "frames"])
def test_ragged_vectors_raise(spark, monkeypatch, route, extra):
    """One vector of a 200 x 16 corpus is one component longer (its first
    16 unchanged) or shorter: both routes must refuse the corpus, not
    truncate the odd vector to the first d components."""
    rng = np.random.RandomState(5)
    rows = [(i, rng.randn(D).tolist()) for i in range(200)]
    v = rows[37][1]
    rows[37] = (37, v + [0.5] if extra > 0 else v[:-1])
    df = spark.createDataFrame(rows, "vec_id long, v array<double>")
    if route == "frames":
        _frames_route(monkeypatch)
    with pytest.raises(ValueError, match="ragged"):
        sim.lloyd_assign(spark, df, iters=1, k=8).collect()


def test_round5_matches_spark_round(spark):
    """_lloyd_round5 must equal Spark's round(x, 5) bit for bit — random
    cosine-range doubles plus decimal-boundary adversaries."""
    rng = np.random.RandomState(3)
    vals = list(rng.uniform(-1, 1, 3000))
    vals += [0.0, -0.0, 1.0, -1.0, 0.123455, -0.123455, 0.000005,
             -0.000005, 0.999995, 0.1234549999999999, 2.5e-6, 7.5e-6]
    df = spark.createDataFrame([(float(v),) for v in vals], "x double")
    got = [r["r"] for r in df.selectExpr("round(x, 5) AS r").collect()]
    want = [sim._lloyd_round5(float(v)) for v in vals]
    assert got == want
