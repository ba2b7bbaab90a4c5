"""Mask post-processing chain + bbox extraction, pure numpy.

Re-implements the observable semantics of reference
scripts/post_process.py:54-241 (remove_small_regions, separate_tall_regions,
erode_regions, create_bounding_boxes, post_process_mask,
extract_row_col_bboxes), including the reference's quirks, which are part of
the correctness contract:

- remove_small_regions and separate_tall_regions SKIP class 0 (the Year
  column) — reference scripts/post_process.py:62-63,101-102.
- separate_tall_regions also skips regions with width < 0.5 * height
  (scripts/post_process.py:70-71).
- erode_regions erodes ALL classes 0..4 into a fresh background canvas
  (scripts/post_process.py:119-127); create_bounding_boxes rectangularizes
  regions with area >= expected_row_height^2 (scripts/post_process.py:145).
- extract_row_col_bboxes clusters y-sorted regions sequentially: a new row
  starts when |y_center - current_row_anchor| > row_threshold, and the
  anchor only advances on a new row (scripts/post_process.py:225-237);
  final ordering is (row, col) (scripts/post_process.py:240).
"""

from __future__ import annotations

import numpy as np

from ..config import ExtractConfig
from . import cc
from .imgproc import binary_erode_mask, gaussian_smooth_1d


# ---------------------------------------------------------------------------
# K11 — remove small regions (reference scripts/post_process.py:92-110)
# ---------------------------------------------------------------------------

def remove_small_regions(mask: np.ndarray, cfg: ExtractConfig) -> np.ndarray:
    """Drop 8-connected components with area < min_region_size, per class
    1..4 (reference quirk: class 0 never cleaned,
    scripts/post_process.py:101-102).

    Single multi-class pass: ``cc.class_runs`` labels the maximal
    constant-value runs of classes 1..4 for the whole mask (class 0 and
    background pass through), and small components are painted
    background run-by-run — one image sweep instead of four per-class
    (compare + label + gather + masked-assign) sweeps.  Removal is
    order-independent, so this is exactly equivalent to per-class
    labeling."""
    out = mask.copy()
    rows, s_col, e_col, _vals, roots = cc.class_runs(mask, 1, cfg.n_content_classes)
    areas: dict[int, int] = {}
    for s, e, r in zip(s_col, e_col, roots):
        areas[r] = areas.get(r, 0) + e - s
    bg = np.uint8(cfg.background_class)
    min_size = cfg.min_region_size
    for y, s, e, r in zip(rows, s_col, e_col, roots):
        if areas[r] < min_size:
            out[y, s:e] = bg
    return out


# ---------------------------------------------------------------------------
# K12 — separate vertically merged regions
# (reference scripts/post_process.py:10-90)
# ---------------------------------------------------------------------------

def _is_local_minimum(profile: np.ndarray, idx: int) -> bool:
    return (
        profile[idx] < profile[idx - 1]
        and profile[idx] < profile[idx + 1]
        and profile[idx] < profile[idx - 2]
        and profile[idx] < profile[idx + 2]
    )


def _valley_depth(profile: np.ndarray, idx: int) -> float:
    left_peak = max(profile[max(0, idx - 5) : idx])
    right_peak = max(profile[idx + 1 : min(len(profile), idx + 6)])
    return min(left_peak - profile[idx], right_peak - profile[idx])


def _find_valleys(profile_norm: np.ndarray) -> list[tuple[int, float]]:
    valleys = []
    for i in range(2, len(profile_norm) - 2):
        if _is_local_minimum(profile_norm, i) and _valley_depth(profile_norm, i) > 0.01:
            valleys.append((i, float(profile_norm[i])))
    return valleys


def _filtered_split_points(
    valleys: list[tuple[int, float]], y_min: int, height: int, expected_row_height: int
) -> list[int]:
    valleys = sorted(valleys, key=lambda v: v[1])  # deepest first
    est_rows = max(2, int(np.ceil(height / expected_row_height)))
    split_points = sorted(y_min + v[0] for v in valleys[: est_rows - 1])
    filtered: list[int] = []
    min_dist = expected_row_height * 0.7
    last = -float("inf")
    for sp in split_points:
        if sp - last >= min_dist:
            filtered.append(sp)
            last = sp
    return filtered


def separate_tall_regions(mask: np.ndarray, cfg: ExtractConfig) -> np.ndarray:
    out = mask.copy()
    erh = cfg.expected_row_height
    # Fast path: one multi-class pass finds per-component bboxes; a class
    # only pays the exact label+regionprops sweep (needed for the
    # component-pixel profile, region.image) when it actually has a
    # tall-and-wide component — most pages have none.
    comps = cc.multiclass_regions(mask, 1, cfg.n_content_classes)
    for class_idx in range(1, cfg.n_content_classes):  # class 0 never split
        if not any(
            (y1 - y0) > erh * 1.15 and (x1 - x0) >= (y1 - y0) * 0.5
            for y0, x0, y1, x1, _a in comps[class_idx]
        ):
            continue
        class_mask = mask == class_idx
        labels, _ = cc.label(class_mask)
        for region in cc.regionprops(labels):
            y_min, x_min, y_max, x_max = region.bbox
            height = y_max - y_min
            width = x_max - x_min
            if width < height * 0.5:
                continue
            if height > erh * 1.15:
                profile = np.sum(region.image, axis=1).astype(np.float64)
                sigma = max(1.0, height / erh * 0.5)
                smooth = gaussian_smooth_1d(profile, sigma)
                span = smooth.max() - smooth.min()
                if span <= 0:
                    continue  # flat profile: nothing to split
                norm = (smooth - smooth.min()) / span
                valleys = _find_valleys(norm)
                if valleys:
                    for y in _filtered_split_points(valleys, y_min, height, erh):
                        y0 = max(0, y - cfg.min_row_separation)
                        y1 = min(mask.shape[0], y + cfg.min_row_separation + 1)
                        out[y0:y1, x_min:x_max] = cfg.background_class
    return out


# ---------------------------------------------------------------------------
# K13 — erode regions (reference scripts/post_process.py:112-128)
# ---------------------------------------------------------------------------

def erode_regions(mask: np.ndarray, cfg: ExtractConfig) -> np.ndarray:
    out = np.full_like(mask, cfg.background_class)
    for class_idx in range(cfg.n_content_classes):
        class_mask = mask == class_idx
        if not class_mask.any():
            continue
        out[binary_erode_mask(class_mask, cfg.erode_kernel_size)] = class_idx
    return out


# ---------------------------------------------------------------------------
# K14 — rectangularize (reference scripts/post_process.py:131-150)
# ---------------------------------------------------------------------------

def create_bounding_boxes(mask: np.ndarray, cfg: ExtractConfig) -> np.ndarray:
    out = mask.copy()
    erh = cfg.expected_row_height
    # one multi-class pass; within a class, fill order is irrelevant (same
    # value), and the class_idx loop preserves the reference's cross-class
    # overwrite order (scripts/post_process.py:131-150)
    comps = cc.multiclass_regions(mask, 0, cfg.n_content_classes)
    for class_idx in range(cfg.n_content_classes):
        for y_min, x_min, y_max, x_max, area in comps[class_idx]:
            if area < erh * erh:
                continue
            out[y_min:y_max, x_min:x_max] = class_idx
    return out


# ---------------------------------------------------------------------------
# K15 — full chain (reference scripts/post_process.py:176-195)
# ---------------------------------------------------------------------------

def post_process_mask(class_mask: np.ndarray, cfg: ExtractConfig) -> np.ndarray:
    """remove_small -> separate_tall -> erode -> rectangularize, in the
    reference's exact order (scripts/post_process.py:191-195)."""
    cleaned = remove_small_regions(class_mask, cfg)
    separated = separate_tall_regions(cleaned, cfg)
    eroded = erode_regions(separated, cfg)
    return create_bounding_boxes(eroded, cfg)


# ---------------------------------------------------------------------------
# K16 — region -> (row, col, bbox) extraction
# (reference scripts/post_process.py:197-241)
# ---------------------------------------------------------------------------

def extract_row_col_bboxes(
    final_mask: np.ndarray, cfg: ExtractConfig
) -> list[tuple[int, int, int, int, int, int]]:
    """Returns [(row, col, x1, y1, x2, y2)] sorted by (row, col).

    Sequential row clustering over y-center-sorted regions with
    row_threshold; col = class id.  Tie-breaking replicates the reference's
    regions.sort() on the full tuple (y_center, class_id, x_min, y_min,
    x_max, y_max) (scripts/post_process.py:224-225).
    """
    regions: list[tuple[float, int, int, int, int, int]] = []
    comps = cc.multiclass_regions(final_mask, 0, cfg.n_content_classes)
    for class_id in range(cfg.n_content_classes):
        for y_min, x_min, y_max, x_max, _area in comps[class_id]:
            y_center = (y_max + y_min) / 2
            regions.append((y_center, class_id, x_min, y_min, x_max, y_max))
    regions.sort()

    row_col_boxes: list[tuple[int, int, int, int, int, int]] = []
    current_row = 0
    if regions:
        current_y_center = regions[0][0]
        for y_center, col_num, x_min, y_min, x_max, y_max in regions:
            if abs(y_center - current_y_center) > cfg.row_threshold:
                current_row += 1
                current_y_center = y_center
            row_col_boxes.append((current_row, col_num, x_min, y_min, x_max, y_max))
    row_col_boxes.sort(key=lambda b: (b[0], b[1]))
    return row_col_boxes


# ---------------------------------------------------------------------------
# K17 — bbox rescale to original resolution
# (reference scripts/imgs2csv.py:189-202)
# ---------------------------------------------------------------------------

def scale_bbox(
    bbox: tuple[int, int, int, int, int, int],
    original_size: tuple[int, int],
    resized_size: tuple[int, int],
) -> tuple[int, int, int, int, int, int]:
    row, col, x1, y1, x2, y2 = bbox
    w_orig, h_orig = original_size
    w_res, h_res = resized_size
    return (
        row,
        col,
        int(x1 * (w_orig / w_res)),
        int(y1 * (h_orig / h_res)),
        int(x2 * (w_orig / w_res)),
        int(y2 * (h_orig / h_res)),
    )
