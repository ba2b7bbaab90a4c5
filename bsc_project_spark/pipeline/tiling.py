"""Giant-page tile split: bounded max-task-time for 100x pages, EXACT.

One media span is atomic in the normal page stage (pipeline/extract.py):
a page 100x the median makes one task 100x long — the open risk SURVEY.md
§7 documents (the reference's sequential per-page loop,
/root/reference/scripts/imgs2csv.py:294, simply eats the stall).  This
module decomposes a giant page across MANY tasks while reproducing the
single-task kernel chain bit-for-bit:

  stage 1  band-split   one task per giant page: decode the PNG (the only
                        atomic step — PNG rows are sequentially
                        compressed) and emit horizontal HALO BANDS of the
                        native grayscale.  Linear, memory-bandwidth work.
  stage 2  band-analyze one task per band (the expensive native-res
                        work, distributed): binarize_fused + open_u8 on
                        the halo band, trim the halo, emit the bit-packed
                        core + the band's partial column profile for
                        vertical-line detection.  EXACT because every op
                        has bounded vertical support (blur+adaptive ~7,
                        open 4, vline close 2*kernel_h) and the halo
                        exceeds their composition; true image top/bottom
                        edges keep their border semantics because the
                        edge bands' halos stop at the real image edge.
  stage 3  stitch       one task per giant page, CONSTANT-bounded work:
                        sum the partial profiles -> (lb, rb) via the same
                        vline_bounds_from_profile the whole-page path
                        uses, unpack + stack the cores, whiteout, resize
                        (the output is the fixed cfg.target_* size),
                        segment -> postprocess -> bboxes (all at the
                        fixed resized scale), rescale to native, emit
                        per-cell crop SPECS (and decode the degenerate
                        empty-clamp crops inline, preserving
                        kernels/ocr.crop_cell's 1x1-white contract).
                        One spec per band a cell's rows overlap.
  stage 4  cell-decode  per-cell OCR, distributed: join the specs,
                        grouped by (page, band), to the stage-1 gray
                        bands on those keys, stitch each cell's row
                        pieces, pad + decode.  Exact: the stitched
                        pieces ARE gray[y1:y2, x1:x2].

Max task time is therefore bounded by max(decode+split of one page,
one band's binarize, stitch's constant-size segmentation, one cell
batch) instead of the page's full native-resolution chain.  The model
seam (cfg.segmenter / cfg.ocr_decoder) passes through stages 3/4
unchanged.  Pages are routed here by width*height METADATA (no byte
peek); corpora without metadata, or with deskew enabled (a global-
rotation op that cannot band), keep the single-task path.

Exactness is pinned by tests/test_tiling.py: tile-path cells equal
extract_page() on the same giant page, and full-pipeline span equality
holds on a mixed normal+giant corpus.
"""

from __future__ import annotations

import json
import time
from collections.abc import Iterator
from typing import Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import ExtractConfig
from ..io.png import decode_gray
from ..kernels.bitmorph import open_u8
from ..kernels.imgproc import (
    binarize_fused,
    resize_area,
    vline_black_profile,
    vline_bounds_from_profile,
    whiteout_margins,
)
from ..kernels.ocr import decode_cell, pad_for_ocr
from ..kernels.postprocess import extract_row_col_bboxes, post_process_mask, scale_bbox
from ..kernels.segment import segment_page
from .extract import EXTRACT_STAGE_SCHEMA

BAND_SCHEMA = (
    "media_ref string, band int, n_bands int, y0 int, y1 int, "
    "hy0 int, hy1 int, h int, w int, data binary"
)
ANALYSIS_SCHEMA = (
    "media_ref string, band int, n_bands int, y0 int, y1 int, "
    "h int, w int, colsum binary, bits binary, "
    "kind string, text string"
)
SPEC_SCHEMA = (
    "media_ref string, band int, row int, col int, "
    "cx1 int, cy1 int, cx2 int, cy2 int, kind string, text string"
)


def analysis_halo(cfg: ExtractConfig) -> int:
    """Vertical halo (native rows) covering every banded op's support:
    vline close (dilate+erode, <= 2*kernel_h) on top of binarize
    (blur + adaptive Gaussian, <= block_size) and open (<= 16 slack)."""
    return 2 * cfg.vline_kernel_h + cfg.adaptive_block_size + 16


def band_core_rows(cfg: ExtractConfig, width: int) -> int:
    """Core rows per band: ~tile_band_px pixels of work per band task,
    never thinner than 8 halos (bounds the halo-duplication overhead)."""
    return max(8 * analysis_halo(cfg), -(-cfg.tile_band_px // max(width, 1)))


def _split_bands_udf(cfg: ExtractConfig) -> Callable:
    def split(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        halo = analysis_halo(cfg)
        for pdf in batches:
            rows = []
            for media_ref, content in zip(pdf["media_ref"], pdf["content"]):
                gray = decode_gray(bytes(content))
                h, w = gray.shape
                core = band_core_rows(cfg, w)
                n_bands = max(1, -(-h // core))
                for b in range(n_bands):
                    y0, y1 = b * core, min(h, (b + 1) * core)
                    hy0, hy1 = max(0, y0 - halo), min(h, y1 + halo)
                    rows.append(
                        (media_ref, b, n_bands, y0, y1, hy0, hy1, h, w,
                         gray[hy0:hy1].tobytes())
                    )
            yield pd.DataFrame(
                rows,
                columns=["media_ref", "band", "n_bands", "y0", "y1",
                         "hy0", "hy1", "h", "w", "data"],
            )

    return split


_ANALYSIS_COLS = ["media_ref", "band", "n_bands", "y0", "y1",
                  "h", "w", "colsum", "bits", "kind", "text"]


def _analyze_band_udf(cfg: ExtractConfig) -> Callable:
    def analyze(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        # the wall starts at the first batch: the JVM's time to send it is
        # not UDF work
        t_start = None
        n_bands_done = 0
        for pdf in batches:
            if t_start is None:
                t_start = time.monotonic()
            rows = []
            for r in pdf.itertuples(index=False):
                g = np.frombuffer(bytes(r.data), dtype=np.uint8).reshape(
                    r.hy1 - r.hy0, r.w
                )
                binary = open_u8(
                    binarize_fused(g, cfg.adaptive_block_size, cfg.adaptive_c),
                    5, 5,
                )
                lo, hi = r.y0 - r.hy0, r.y1 - r.hy0
                # partial column profile of the vertically-CLOSEd left
                # half, core rows only — summed across bands at stitch
                # time this is EXACTLY the whole-page profile
                colsum = vline_black_profile(binary, cfg, slice(lo, hi)).tobytes()
                core = np.packbits(binary[lo:hi] > 0, axis=1).tobytes()
                rows.append(
                    (r.media_ref, r.band, r.n_bands, r.y0, r.y1, r.h, r.w,
                     colsum, core, "_band", None)
                )
                n_bands_done += 1
            yield pd.DataFrame(rows, columns=_ANALYSIS_COLS)
        # standard LINEAGE_SCHEMA payload (pages/cells/chars counted by
        # the stitch stage; this stage accounts the banded native-res
        # wall so per-partition walls still sum to the job's work)
        ctx = TaskContext.get()
        payload = {
            "partition_id": ctx.partitionId() if ctx else -1,
            "page_count": 0,
            "cell_count": 0,
            "ocr_char_count": 0,
            "wall_time_ms": 0 if t_start is None else int((time.monotonic() - t_start) * 1000),
            "band_count": n_bands_done,
        }
        row = {c: None for c in _ANALYSIS_COLS}
        row["kind"] = "_lineage"
        row["text"] = json.dumps(payload)
        yield pd.DataFrame([row], columns=_ANALYSIS_COLS)

    return analyze


_SPEC_COLS = ["media_ref", "band", "row", "col", "cx1", "cy1", "cx2", "cy2",
              "kind", "text"]


def _stitch_page(cfg: ExtractConfig, key, pdf: pd.DataFrame) -> pd.DataFrame:
    """applyInPandas per media_ref: bands -> bboxes -> cell specs, one
    per (cell, band whose core rows it overlaps).  The band tasks'
    _lineage rows (NULL media_ref) pass through, so the band analysis
    has this one reader and runs once."""
    if key[0] is None:
        return pd.DataFrame(
            [(None,) * 8 + ("_lineage", t) for t in pdf["text"]], columns=_SPEC_COLS
        )
    t_start = time.monotonic()
    segment = cfg.segmenter or segment_page
    decode = cfg.ocr_decoder or decode_cell
    pdf = pdf.sort_values("band")
    n_bands = int(pdf["n_bands"].iloc[0])
    got = list(pdf["band"])
    if got != list(range(n_bands)):  # pragma: no cover - shuffle invariant
        raise RuntimeError(f"missing bands for {key}: {got} != 0..{n_bands - 1}")
    h, w = int(pdf["h"].iloc[0]), int(pdf["w"].iloc[0])
    half_w = w // 2

    profile = np.zeros(half_w, dtype=np.int64)
    parts = []
    for r in pdf.itertuples(index=False):
        profile += np.frombuffer(bytes(r.colsum), dtype=np.int64)
        packed = np.frombuffer(bytes(r.bits), dtype=np.uint8).reshape(
            r.y1 - r.y0, -1
        )
        parts.append(np.unpackbits(packed, axis=1, count=w))
    binary = np.concatenate(parts).astype(np.uint8) * 255

    lb, rb = vline_bounds_from_profile(profile, half_w, cfg)
    binary = whiteout_margins(binary, lb, rb)
    resized = resize_area(binary, cfg.target_width, cfg.target_height)
    h_res, w_res = resized.shape
    mask = segment(resized, cfg)
    final_mask = post_process_mask(mask, cfg)
    bboxes = extract_row_col_bboxes(final_mask, cfg)

    out = []
    inline_chars = 0
    media_ref = pdf["media_ref"].iloc[0]
    core = band_core_rows(cfg, w)
    for bbox in bboxes:
        row, col, x1, y1, x2, y2 = scale_bbox(
            (bbox[0], bbox[1], bbox[2], bbox[3], bbox[4], bbox[5]),
            (w, h), (w_res, h_res),
        )
        # crop_cell clamp semantics, applied HERE so stage 4's band
        # join never loses a cell: degenerate clamps decode the 1x1
        # white crop inline (crop_cell's contract), everything else
        # ships clamped coords to each band holding some of its rows
        x1c, x2c = max(0, x1), min(w, x2)
        y1c, y2c = max(0, y1), min(h, y2)
        if x2c <= x1c or y2c <= y1c:
            text = decode(
                pad_for_ocr(np.full((1, 1), 255, dtype=np.uint8),
                            cfg.ocr_min_size),
                cfg, cfg.ocr_glyph_scale,
            )
            out.append((media_ref, None, row, col, -1, -1, -1, -1, "ocr", text))
            inline_chars += len(text)
        else:
            out.extend(
                (media_ref, b, row, col, x1c, y1c, x2c, y2c, "_spec", None)
                for b in range(y1c // core, (y2c - 1) // core + 1)
            )
    out.append(
        (media_ref, None, None, None, None, None, None, None, "_lineage",
         json.dumps({
             "partition_id": -1,  # per-page row, not per-partition
             "page_count": 1,
             "cell_count": len(bboxes),
             # inline (degenerate-clamp) cells decode right here; every
             # other cell's chars arrive via _decode_cells' lineage rows,
             # so summed lineage char counts equal the single-task path's
             "ocr_char_count": inline_chars,
             "wall_time_ms": int((time.monotonic() - t_start) * 1000),
         }))
    )
    return pd.DataFrame(out, columns=_SPEC_COLS)


PIECE_SCHEMA = (
    "media_ref string, row int, col int, cx1 int, cy1 int, cx2 int, cy2 int, "
    "py0 int, piece binary"
)


def _slice_pieces_udf(cfg: ExtractConfig) -> Callable:
    """mapInPandas over bands joined with their band's cell list: slice
    each cell's rows out of the band CORE.  Runs where the bands already
    live (the join meets ONE array row per band on the bands' own
    partitioning), so the big gray blobs are never duplicated per cell
    and never shuffled again — only the small crop pieces move to the
    decode stage."""

    def slice_pieces(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = ["media_ref", "row", "col", "cx1", "cy1", "cx2", "cy2",
                "py0", "piece"]
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                g = np.frombuffer(bytes(r.data), dtype=np.uint8).reshape(
                    r.hy1 - r.hy0, r.w
                )
                for cell in r.cells:
                    a = max(r.y0, cell["cy1"]) - r.hy0
                    b = min(r.y1, cell["cy2"]) - r.hy0
                    piece = g[a:b, cell["cx1"]:cell["cx2"]]
                    rows.append(
                        (r.media_ref, cell["row"], cell["col"],
                         cell["cx1"], cell["cy1"], cell["cx2"], cell["cy2"],
                         max(r.y0, cell["cy1"]),
                         np.ascontiguousarray(piece).tobytes())
                    )
            yield pd.DataFrame(rows, columns=cols)

    return slice_pieces


def _decode_cells(cfg: ExtractConfig, key, pdf: pd.DataFrame) -> pd.DataFrame:
    """applyInPandas per (media_ref,row,col,bbox): stitch gray pieces
    spanning band boundaries, pad, decode.  Emits the cell row PLUS a
    per-cell _lineage row carrying the decoded char count and decode
    wall, so run_job's summed ocr_char_count covers tiled pages too
    (round-4 advice: the stitch row can't know chars — decode happens
    here — and used to hardcode 0, under-reporting giants)."""
    t_start = time.monotonic()
    decode = cfg.ocr_decoder or decode_cell
    pdf = pdf.sort_values("py0")
    media_ref = pdf["media_ref"].iloc[0]
    cx1 = int(pdf["cx1"].iloc[0])
    cx2 = int(pdf["cx2"].iloc[0])
    width = cx2 - cx1
    pieces = [
        np.frombuffer(bytes(p), dtype=np.uint8).reshape(-1, width)
        for p in pdf["piece"]
    ]
    crop = np.concatenate(pieces) if len(pieces) > 1 else pieces[0]
    text = decode(pad_for_ocr(crop, cfg.ocr_min_size), cfg, cfg.ocr_glyph_scale)
    lineage = json.dumps({
        "partition_id": -1,  # per-cell row, not per-partition
        "page_count": 0,     # the page is counted by the stitch row
        "cell_count": 0,     # ditto
        "ocr_char_count": len(text),
        "wall_time_ms": int((time.monotonic() - t_start) * 1000),
    })
    return pd.DataFrame(
        [
            (media_ref, int(pdf["row"].iloc[0]), int(pdf["col"].iloc[0]),
             text, "ocr"),
            (media_ref, None, None, lineage, "_lineage"),
        ],
        columns=["media_ref", "row", "col", "text", "kind"],
    )


def run_tiled_page_stage(
    giant_pages: DataFrame, cfg: ExtractConfig, n_parts: int
) -> DataFrame:
    """(media_ref, content) of GIANT pages -> EXTRACT_STAGE_SCHEMA rows
    (ocr cells + _lineage rows), max task time bounded per the module
    docstring.  The band analysis and the cell-crop join both read the
    bands frame and share its exchange (Spark's exchange reuse), so each
    giant page is decoded once per pass without a cache that would
    outlive the lazily returned plan.  The cell lists, one row per (page,
    band), meet the bands with no hint: Spark broadcasts them under its
    own threshold, or sort-merge joins them on the bands' partitioning."""
    bands = (
        giant_pages.select("media_ref", "content")
        .mapInPandas(_split_bands_udf(cfg), schema=BAND_SCHEMA)
        # stated here, or the crop join infers it below the exchange on its
        # read alone, and the two reads no longer share the exchange
        .filter("media_ref IS NOT NULL AND band IS NOT NULL")
        .repartition(n_parts, "media_ref", "band")
    )
    analyzed = bands.mapInPandas(_analyze_band_udf(cfg), schema=ANALYSIS_SCHEMA)

    specs = analyzed.groupBy("media_ref").applyInPandas(
        lambda key, pdf: _stitch_page(cfg, key, pdf), schema=SPEC_SCHEMA
    )
    inline_cells = specs.filter(F.col("kind") == "ocr").select(
        "media_ref", "row", "col", "text", "kind"
    )

    # one array row per (page, band), partitioned like the bands: the gray
    # blobs never shuffle again and are never duplicated per cell, only
    # small crop pieces leave the band tasks
    cell_lists = (
        specs.filter(F.col("kind") == "_spec")
        .repartition(n_parts, "media_ref", "band")
        .groupBy("media_ref", "band")
        .agg(
            F.collect_list(
                F.struct("row", "col", "cx1", "cy1", "cx2", "cy2")
            ).alias("cells")
        )
    )
    pieces = bands.join(cell_lists, on=["media_ref", "band"]).mapInPandas(
        _slice_pieces_udf(cfg), schema=PIECE_SCHEMA
    )
    decoded = pieces.groupBy(
        "media_ref", "row", "col", "cx1", "cy1", "cx2", "cy2"
    ).applyInPandas(
        lambda key, pdf: _decode_cells(cfg, key, pdf), schema=EXTRACT_STAGE_SCHEMA
    )

    lineage = (
        specs.filter(F.col("kind") == "_lineage")
        .select(
            F.lit(None).cast("string").alias("media_ref"),
            F.lit(None).cast("int").alias("row"),
            F.lit(None).cast("int").alias("col"),
            F.col("text"),
            F.lit("_lineage").alias("kind"),
        )
    )
    return decoded.unionByName(inline_cells).unionByName(lineage)
