"""``banded_pairs`` against a brute-force local reference: every unordered
pair of rows with at least one equal non-NULL band, each pair exactly
once, carrying both full rows."""

from __future__ import annotations

import itertools

import numpy as np
import pytest

from bsc_project_spark.pipeline.banding import banded_pairs

_BANDS = ["x0", "x1", "x2"]


def _rows(seed: int) -> list[tuple]:
    """Random rows over a tiny value range (so bands collide often, NULLs
    included), plus planted rows outside that range: two identical rows
    that match in every band, a pair whose only match is the last band,
    and rows whose earlier band is NULL beside a later match."""
    rng = np.random.default_rng(seed)
    rows = [
        (k, *(None if rng.random() < 0.2 else int(rng.integers(0, 4)) for _ in _BANDS))
        for k in range(40)
    ]
    rows += [
        (100, 7, 7, 7), (101, 7, 7, 7),
        (102, 8, 8, 9), (103, 9, 9, 9),
        (104, None, 10, 11), (105, None, 10, 12), (106, 13, 10, 11),
    ]
    return [(k, *bands, f"p{k}") for k, *bands in rows]


def _reference(rows: list[tuple]) -> list[tuple[int, int]]:
    return [
        (a[0], b[0])
        for a, b in itertools.combinations(sorted(rows), 2)
        if any(x is not None and x == y for x, y in zip(a[1:4], b[1:4]))
    ]


@pytest.mark.parametrize("seed", range(4))
def test_banded_pairs_matches_brute_force(spark, seed):
    rows = _rows(seed)
    frame = spark.createDataFrame(rows, "k int, x0 int, x1 int, x2 int, payload string")
    got = banded_pairs(frame, "k", _BANDS).collect()
    assert sorted((r.a.k, r.b.k) for r in got) == _reference(rows)
    assert all(r.a.payload == f"p{r.a.k}" and r.b.payload == f"p{r.b.k}" for r in got)
