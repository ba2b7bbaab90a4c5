"""Single-process page extractor — the golden reference implementation.

Composes the numpy kernels in the reference's exact order
(reference scripts/imgs2csv.py:123-187 process_single_page):

    preprocess -> segment -> post_process_mask -> extract_row_col_bboxes
    -> scale_bbox -> crop -> pad -> decode -> sort

The Spark pipeline (pipeline/extract.py) runs the SAME kernels inside a
vectorized ``mapInPandas`` stage; tests assert exact span equality between
the two (the north-rule invariant), which verifies the distributed plumbing
(explode / salting / shuffle / window reassembly) preserves semantics.
"""

from __future__ import annotations

import time

import numpy as np

from ..config import ExtractConfig
from .imgproc import deskew_gray, preprocess
from .ocr import crop_cell, decode_cell, pad_for_ocr
from .postprocess import extract_row_col_bboxes, post_process_mask, scale_bbox
from .segment import segment_page


def extract_page(
    gray: np.ndarray, cfg: ExtractConfig, glyph_scale: int,
    phase_ms: dict[str, float] | None = None,
) -> list[tuple[int, int, str]]:
    """Extract ordered (row, col, text) cells from one grayscale page.

    ``phase_ms``, when given, accumulates each phase's wall in ms under
    ``preprocess`` (deskew included), ``segment``, ``postprocess``,
    ``bbox`` and ``ocr`` (crop, pad, decode and sort)."""
    # Model-backend seam (config.py): a real DeepLabV3/TrOCR wrapper drops
    # in via cfg.segmenter / cfg.ocr_decoder; defaults are the built-ins.
    segment = cfg.segmenter or segment_page
    decode = cfg.ocr_decoder or decode_cell
    t = time.perf_counter()

    def lap(phase: str) -> None:
        nonlocal t
        now = time.perf_counter()
        if phase_ms is not None:
            phase_ms[phase] = phase_ms.get(phase, 0.0) + (now - t) * 1000.0
        t = now

    gray = deskew_gray(gray, cfg)  # no-op unless cfg.deskew_enabled
    h_orig, w_orig = gray.shape
    binary = preprocess(gray, cfg)
    h_res, w_res = binary.shape
    lap("preprocess")
    class_mask = segment(binary, cfg)
    lap("segment")
    final_mask = post_process_mask(class_mask, cfg)
    lap("postprocess")
    bboxes = extract_row_col_bboxes(final_mask, cfg)
    lap("bbox")

    outputs: list[tuple[int, int, str]] = []
    for bbox in bboxes:
        row, col, x1, y1, x2, y2 = scale_bbox(
            (bbox[0], bbox[1], bbox[2], bbox[3], bbox[4], bbox[5]),
            (w_orig, h_orig),
            (w_res, h_res),
        )
        crop = crop_cell(gray, x1, y1, x2, y2)
        padded = pad_for_ocr(crop, cfg.ocr_min_size)
        text = decode(padded, cfg, glyph_scale)
        outputs.append((row, col, text))
    outputs.sort()  # reference scripts/imgs2csv.py:186
    lap("ocr")
    return outputs
