"""Per-layer measurements taken by calling a layer's public functions
directly, outside Spark."""

from __future__ import annotations

import time
from collections import defaultdict

from bsc_project_spark.io.png import decode_gray
from bsc_project_spark.kernels.imgproc import deskew_gray, preprocess
from bsc_project_spark.kernels.ocr import crop_cell, decode_cell, pad_for_ocr
from bsc_project_spark.kernels.postprocess import (
    extract_row_col_bboxes,
    post_process_mask,
    scale_bbox,
)
from bsc_project_spark.kernels.segment import segment_page


def kernel_phases(pages: dict[str, bytes], cfg, golden: dict[str, list]) -> tuple[dict, int]:
    """Time PNG decode and each kernel phase per page, single-process, in
    the order ``kernels.golden.extract_page`` composes them.  Returns the
    per-page means in ms plus cells per page, and the number of pages whose
    composed cells differ from the golden."""
    segment = cfg.segmenter or segment_page
    decode = cfg.ocr_decoder or decode_cell
    total: dict[str, float] = defaultdict(float)
    cells = mismatches = 0

    def lap(phase: str, t0: float) -> float:
        t1 = time.perf_counter()
        total[phase] += t1 - t0
        return t1

    for ref, content in pages.items():
        t = time.perf_counter()
        gray = decode_gray(content)
        t = lap("io.decode_ms_per_page", t)
        gray = deskew_gray(gray, cfg)
        h_orig, w_orig = gray.shape
        binary = preprocess(gray, cfg)
        t = lap("kernels.preprocess_ms_per_page", t)
        class_mask = segment(binary, cfg)
        t = lap("kernels.segment_ms_per_page", t)
        final_mask = post_process_mask(class_mask, cfg)
        t = lap("kernels.postprocess_ms_per_page", t)
        bboxes = extract_row_col_bboxes(final_mask, cfg)
        t = lap("kernels.bbox_ms_per_page", t)
        out = []
        for bbox in bboxes:
            row, col, x1, y1, x2, y2 = scale_bbox(
                tuple(bbox[:6]), (w_orig, h_orig), binary.shape[::-1]
            )
            text = decode(pad_for_ocr(crop_cell(gray, x1, y1, x2, y2), cfg.ocr_min_size), cfg,
                          cfg.ocr_glyph_scale)
            out.append((row, col, text))
        out.sort()
        lap("kernels.ocr_ms_per_page", t)
        cells += len(out)
        mismatches += [list(c) for c in out] != [list(c) for c in golden[ref]]

    n = max(len(pages), 1)
    metrics = {k: v * 1000.0 / n for k, v in total.items()}
    metrics["kernels.page_ms"] = sum(
        v for k, v in metrics.items() if k.startswith("kernels.")
    )
    metrics["kernels.cells_per_page"] = cells / n
    return metrics, mismatches
