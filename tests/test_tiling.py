"""Giant-page tile split (pipeline/tiling.py): exactness + bounded tasks.

The north-rule invariant is exact span equality; the tile path must be
BIT-IDENTICAL to the single-task kernel chain while bounding every task.
Pins, cheapest first:

  1. halo sufficiency, no Spark: banded binarize+open+vline-profile over
     a dense synthetic page equals the whole-page computation exactly —
     including the true top/bottom border semantics;
  2. tile-path cells == extract_page() on the same giant page (a 3x
     nearest-neighbor upscale of a real fixture render, above the
     routing threshold, non-integer resize factors so the general
     resize path is covered);
  3. full-pipeline span equality on a mixed normal+giant corpus vs the
     same corpus with tiling DISABLED (the already-golden-pinned path),
     with the cell lists broadcast by Spark's own threshold and, with
     broadcasts off, sort-merge joined;
  4. the structural skew bound: the giant page becomes >1 band, each
     band's pixel load <= (core + 2*halo) * width — no task carries the
     page's full native-resolution work;
  5. the band stage's lineage wall starts at its first input batch;
  6. one pass decodes, splits and band-analyzes each giant page once:
     every reader of the bands shares one exchange.
"""

from __future__ import annotations

import dataclasses

import numpy as np
import pytest
from pyspark.sql import functions as F

from bsc_project_spark.fixtures import spark_io
from bsc_project_spark.fixtures.corpus import FIXTURE_CONFIG, build_corpus, page_spec
from bsc_project_spark.fixtures.render import render_page
from bsc_project_spark.io.png import encode_gray
from bsc_project_spark.kernels.bitmorph import open_u8
from bsc_project_spark.kernels.golden import extract_page
from bsc_project_spark.kernels.imgproc import binarize_fused, vline_black_profile
from bsc_project_spark.pipeline.extract import run_extract_stage
from bsc_project_spark.pipeline.tiling import (
    _analyze_band_udf,
    analysis_halo,
    band_core_rows,
    run_tiled_page_stage,
)


def test_banded_binarize_and_profile_match_whole_page():
    cfg = FIXTURE_CONFIG
    rng = np.random.RandomState(11)
    # dense content so every band and both borders carry ink
    gray = (rng.rand(1024, 512) * 255).astype(np.uint8)
    whole = open_u8(binarize_fused(gray, cfg.adaptive_block_size, cfg.adaptive_c), 5, 5)
    whole_profile = vline_black_profile(whole, cfg)

    halo = analysis_halo(cfg)
    core = 300  # deliberately unaligned with the page height
    h, w = gray.shape
    parts, profile = [], np.zeros(w // 2, dtype=np.int64)
    for y0 in range(0, h, core):
        y1 = min(h, y0 + core)
        hy0, hy1 = max(0, y0 - halo), min(h, y1 + halo)
        band = open_u8(
            binarize_fused(gray[hy0:hy1], cfg.adaptive_block_size, cfg.adaptive_c),
            5, 5,
        )
        parts.append(band[y0 - hy0 : y1 - hy0])
        profile += vline_black_profile(band, cfg, slice(y0 - hy0, y1 - hy0))
    assert np.array_equal(np.concatenate(parts), whole)
    assert np.array_equal(profile, whole_profile)


@pytest.fixture(scope="module")
def giant_gray():
    # 3x nearest-neighbor upscale of a real render: 4608x6144 = 28.3M px,
    # above the 12M routing threshold; resize factors to the fixed
    # 1600x1248 target are NON-integer, covering the general resize path
    base = render_page(page_spec(3))
    return np.kron(base, np.ones((3, 3), dtype=np.uint8))


@pytest.fixture(scope="module")
def tiled_giant(spark, giant_gray):
    """The tiled stage over the giant page alone, and its collected rows."""
    pages = spark.createDataFrame(
        [("giant0", bytearray(encode_gray(giant_gray)))],
        "media_ref string, content binary",
    )
    out = run_tiled_page_stage(pages, FIXTURE_CONFIG, n_parts=8)
    return out, out.collect()


def test_tiled_stage_equals_single_task_kernel(giant_gray, tiled_giant):
    cfg = FIXTURE_CONFIG
    golden = extract_page(giant_gray, cfg, cfg.ocr_glyph_scale)

    _, rows = tiled_giant
    cells = sorted((r.row, r.col, r.text) for r in rows if r.kind == "ocr")
    assert cells == golden
    assert len(cells) > 0

    # structural skew bound: the page really was split, and no band task
    # carried more than (core + 2*halo) * w pixels of native-res work
    h, w = giant_gray.shape
    core = band_core_rows(cfg, w)
    halo = analysis_halo(cfg)
    n_bands = -(-h // core)
    assert n_bands > 1, "giant page did not split"
    assert (core + 2 * halo) * w < h * w, "band bound not below whole page"

    # lineage rows present and consistent: one stitch row with the page
    # and cell counts, band rows accounting the distributed wall
    import json

    lin = [json.loads(r.text) for r in rows if r.kind == "_lineage"]
    assert sum(p["page_count"] for p in lin) == 1
    assert sum(p["cell_count"] for p in lin) == len(cells)
    assert sum(p.get("band_count", 0) for p in lin) == n_bands
    # chars: decode-stage lineage rows + inline stitch chars must account
    # every decoded character (round-4 advice: was hardcoded 0 -> tiled
    # pages under-reported run_job's summed ocr_char_count)
    assert sum(p["ocr_char_count"] for p in lin) == sum(
        len(t) for _, _, t in cells
    )


def test_one_pass_decodes_and_analyzes_each_giant_page_once(tiled_giant):
    """The band analysis and the cell-crop join read one bands exchange:
    the executed plan runs the PNG decode + band split, and the band
    analysis, once each; every other read of the bands is a reuse."""
    import re

    out, _ = tiled_giant
    final = out._jdf.queryExecution().executedPlan().executedPlan().toString()
    assert len(re.findall(r"MapInPandas split\(", final)) == 1, final
    assert len(re.findall(r"MapInPandas analyze\(", final)) == 1, final
    assert "ReusedExchange" in final, final


@pytest.mark.parametrize("join_cells", [False, True], ids=["broadcast_cells", "join_cells"])
def test_mixed_corpus_span_equality_tile_on_vs_off(spark, giant_gray, join_cells, request):
    """Both joins Spark may pick for the cell lists: its own broadcast,
    and, with broadcasts off, a sort-merge join."""
    if join_cells:
        key = "spark.sql.autoBroadcastJoinThreshold"
        spark.conf.set(key, "-1")
        request.addfinalizer(lambda: spark.conf.unset(key))
    corpus = build_corpus(n_docs=3)
    docs = spark_io.documents_df(spark, corpus)
    media = spark_io.media_df(spark, corpus)

    # graft the giant page into the corpus: a new doc referencing it
    g_h, g_w = giant_gray.shape
    extra_doc = spark.createDataFrame(
        [("doc_giant",
          [("text", "before", None, 0),
           ("media", None, "giant0", 1),
           ("text", "after", None, 2)])],
        docs.schema,
    )
    extra_media = spark.createDataFrame(
        [("giant0", bytearray(encode_gray(giant_gray)), g_w, g_h, -1)],
        media.schema,
    )
    docs = docs.unionByName(extra_doc)
    media = media.unionByName(extra_media)

    tiled = run_extract_stage(docs, media, FIXTURE_CONFIG).extracted
    cfg_off = dataclasses.replace(FIXTURE_CONFIG, tile_threshold_px=None)
    single = run_extract_stage(docs, media, cfg_off).extracted
    assert tiled.exceptAll(single).count() == 0
    assert single.exceptAll(tiled).count() == 0
    # the giant doc's spans actually flowed through the tile path
    giant_spans = tiled.filter(F.col("doc_id") == "doc_giant")
    assert giant_spans.filter(F.col("kind") == "ocr").count() > 0


def test_band_lineage_wall_starts_at_the_first_batch():
    """The band stage's wall counts its own work, not the JVM's time to
    send the first input batch: one band fed after a 500 ms wait reports
    a wall well under that wait, and a partition that gets no batch
    reports 0."""
    import json
    import time

    import pandas as pd

    band = render_page(page_spec(0))[:400]
    h, w = band.shape

    def slow_batches():
        time.sleep(0.5)
        yield pd.DataFrame([{
            "media_ref": "p0", "band": 0, "n_bands": 1, "y0": 0, "y1": h,
            "hy0": 0, "hy1": h, "h": h, "w": w, "data": band.tobytes(),
        }])

    def lineage(batches):
        out = list(_analyze_band_udf(FIXTURE_CONFIG)(batches))
        return json.loads(out[-1].text.iloc[0])

    lin = lineage(slow_batches())
    assert lin["band_count"] == 1
    assert lin["wall_time_ms"] < 250, lin
    assert lineage(iter(()))["wall_time_ms"] == 0
