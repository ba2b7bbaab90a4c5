"""Extraction configuration.

Defaults mirror the reference pipeline's constants:

- adaptive threshold blockSize=13, C=12   (reference scripts/dataset.py:31-43)
- target (resized) segmentation size 1600x1248 = (3200//2, 2496//2)
  (reference scripts/config.py:8, scripts/imgs2csv.py:135)
- min_region_size=1000 px, expected_row_height=40 px
  (reference scripts/config.py:30-33, scripts/imgs2csv.py:144)
- row clustering threshold 40 px        (reference scripts/post_process.py:197)
- OCR minimum crop size 32 px           (reference scripts/imgs2csv.py:204-222)

The fixture corpus runs at a smaller page size with proportionally scaled
parameters (see ``fixtures.corpus.FIXTURE_CONFIG``) so tests stay fast; the
kernel semantics are size-independent.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable, Optional

DRIVER_STATE_BYTES = 32_000_000
"""Ceiling on the state a size-selected route holds on the driver or in one
task (PageRank's packed edges, connected components' pairs, Lloyd's
centroids).  Each site compares a count it already holds against it, read
at call time, so 0 forces every distributed route.  Every other collect
and broadcast is listed with its bound in tests/test_driver_budget_sites.py."""


@dataclass(frozen=True)
class ExtractConfig:
    # Binarization (reference scripts/dataset.py:31-43)
    adaptive_block_size: int = 13
    adaptive_c: int = 12

    # Resize target as (width, height), applied after margin whiteout
    # (reference scripts/imgs2csv.py:135: target_size=(3200//2, 2496//2)).
    target_width: int = 1600
    target_height: int = 1248

    # Optional shear-deskew between binarization and morphology (engine
    # extension; the reference pipeline has no deskew op — its margin
    # detection assumes upright scans).  Off by default to pin reference
    # semantics; enable for skewed corpora.
    deskew_enabled: bool = False
    deskew_max_angle: float = 2.0

    # Margin detection (reference scripts/dataset.py:8-29)
    vline_kernel_h: int = 50
    vline_profile_frac: float = 0.15
    left_bound_pad: int = 10
    right_bound_pad: int = 5

    # Post-processing (reference scripts/config.py:30-33,
    # scripts/post_process.py:54,92,131,197)
    min_region_size: int = 1000
    expected_row_height: int = 40
    row_threshold: int = 40
    min_row_separation: int = 3
    erode_kernel_size: int = 3
    background_class: int = 5
    n_content_classes: int = 5  # classes 0..4 = Year/Date/Lat/Long/Temp

    # Classical segmenter (this engine's deterministic stand-in for the
    # reference's DeepLabV3 forward pass, same output contract: HxW class
    # mask with classes 0..4 + background 5).
    seg_line_min_frac: float = 0.5   # column is a grid line if ink covers >=50% of height
    seg_line_margin: int = 2         # inset from detected line columns
    seg_close_h: int = 5             # close kernel (merges glyphs into cell blobs)

    # OCR (reference scripts/imgs2csv.py:204-222 min_size)
    ocr_min_size: int = 32
    ocr_ink_threshold: int = 128
    # Nominal glyph scale (font px -> image px) of the corpus; the decoder
    # auto-estimates per-cell scale from line height when plausible.
    ocr_glyph_scale: int = 5

    # Model-backend seam: drop in a real segmentation model / OCR decoder
    # (the reference's DeepLabV3 forward pass, imgs2csv.py:139-143, and
    # TrOCR decode, imgs2csv.py:163-175) without touching the pipeline.
    # None -> the built-in classical segmenter / glyph decoder.  Must be
    # MODULE-LEVEL callables (the config is pickled into the mapInPandas
    # closure once per task).  Contracts:
    #   segmenter(binary_img: ndarray, cfg) -> HxW class mask (0..4 + bg 5)
    #   ocr_decoder(crop: ndarray, cfg, glyph_scale: int|None) -> str
    segmenter: Optional[Callable] = None
    ocr_decoder: Optional[Callable] = None

    # Giant-page tile split (pipeline/tiling.py).  Pages whose native
    # pixel count (width*height metadata) reaches tile_threshold_px are
    # decomposed into horizontal halo bands so no single task carries a
    # 100x page's native-resolution work (SURVEY.md §7 open risk; the
    # reference's per-page loop, imgs2csv.py:294, has no such
    # protection).  None disables the path.  tile_band_px sizes band
    # cores (~pixels per band task); the analysis halo is derived from
    # the kernel supports (2*vline_kernel_h + adaptive_block_size + 16).
    tile_threshold_px: Optional[int] = 12_000_000
    tile_band_px: int = 8_000_000


# Reference-faithful defaults (full-resolution logbook pages).
REFERENCE_CONFIG = ExtractConfig()
