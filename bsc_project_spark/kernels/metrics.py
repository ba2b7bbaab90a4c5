"""Evaluation-metric kernels (SURVEY.md §2d M1-M9), pure numpy.

Same observable semantics as reference scripts/metrics.py /
scripts/evaluate_ocr.py / scripts/evaluate_post_process.py:

- M1 confusion counts (metrics.py:13-28)
- M2 IoU per class + valid-class mean (metrics.py:38-54, epsilon=1e-7)
- M3 Dice (metrics.py:56-67)
- M4 pixel accuracy (metrics.py:69-106)
- M5 boundary F1: Sobel edge magnitude, mean+std threshold, per-valid-class
  average (metrics.py:108-149)
- M6 instance separation: connected-component count agreement
  (metrics.py:151-177)
- M7 CER: Levenshtein / len(truth) with the empty-truth guard
  (evaluate_ocr.py:13-38)
- M8 box-count MAD (evaluate_post_process.py:123-195)
- M9 pixel-diff fraction (evaluate_post_process.py:85-88)

These run in-UDF (per page) in a distributed evaluation; the relational
aggregations over their outputs are the q_seg_metrics / q_cer* queries.
"""

from __future__ import annotations

import numpy as np

from . import cc

EPS = 1e-7


def confusion_counts(pred: np.ndarray, target: np.ndarray, num_classes: int) -> dict:
    """TP/FP/FN/TN per class from an HxW pred/target labeling (M1)."""
    idx = (target.astype(np.int64).ravel() * num_classes) + pred.astype(np.int64).ravel()
    conf = np.bincount(idx, minlength=num_classes * num_classes).reshape(
        num_classes, num_classes
    ).astype(np.float64)
    tp = np.diag(conf).copy()
    fp = conf.sum(axis=0) - tp
    fn = conf.sum(axis=1) - tp
    tn = conf.sum() - (tp + fp + fn)
    return {"TP": tp, "FP": fp, "FN": fn, "TN": tn}


def iou_per_class(counts: dict) -> np.ndarray:
    return counts["TP"] / (counts["TP"] + counts["FP"] + counts["FN"] + EPS)


def mean_iou(counts: dict) -> float:
    """Mean IoU over classes that appear in the ground truth (the
    reference's valid-class masking, metrics.py:46-54)."""
    iou = iou_per_class(counts)
    valid = (counts["TP"] + counts["FN"]) > 0
    return float(iou[valid].mean()) if valid.any() else 0.0


def dice_per_class(counts: dict) -> np.ndarray:
    return 2 * counts["TP"] / (2 * counts["TP"] + counts["FP"] + counts["FN"] + EPS)


def pixel_accuracy(counts: dict) -> float:
    total = counts["TP"].sum() + counts["FP"].sum()
    return float(counts["TP"].sum() / (total + EPS))


def _sobel_magnitude(mask: np.ndarray) -> np.ndarray:
    """|Sobel| edge magnitude of a float mask (3x3, replicate border) —
    the normalized kornia.filters.sobel the reference uses."""
    f = mask.astype(np.float64)
    p = np.pad(f, 1, mode="edge")
    gx = (
        (p[:-2, 2:] + 2 * p[1:-1, 2:] + p[2:, 2:])
        - (p[:-2, :-2] + 2 * p[1:-1, :-2] + p[2:, :-2])
    ) / 8.0
    gy = (
        (p[2:, :-2] + 2 * p[2:, 1:-1] + p[2:, 2:])
        - (p[:-2, :-2] + 2 * p[:-2, 1:-1] + p[:-2, 2:])
    ) / 8.0
    return np.sqrt(gx * gx + gy * gy)


def boundary_f1(pred: np.ndarray, target: np.ndarray, num_classes: int) -> dict:
    """M5: per-class Sobel boundaries thresholded at mean+std, averaged
    precision/recall/F1 over classes with ground-truth boundary pixels."""
    out = {"boundary_precision": 0.0, "boundary_recall": 0.0, "boundary_f1": 0.0}
    valid = 0
    for c in range(num_classes):
        pe = np.abs(_sobel_magnitude(pred == c))
        te = np.abs(_sobel_magnitude(target == c))
        pb = pe > (pe.mean() + pe.std())
        tb = te > (te.mean() + te.std())
        if tb.sum() == 0:
            continue
        tp = float(np.sum(pb & tb))
        fp = float(np.sum(pb & ~tb))
        fn = float(np.sum(~pb & tb))
        precision = tp / (tp + fp + EPS)
        recall = tp / (tp + fn + EPS)
        f1 = 2 * precision * recall / (precision + recall + EPS)
        out["boundary_precision"] += precision
        out["boundary_recall"] += recall
        out["boundary_f1"] += f1
        valid += 1
    if valid:
        out = {k: v / valid for k, v in out.items()}
    return out


def instance_separation(pred: np.ndarray, target: np.ndarray, num_classes: int) -> float:
    """M6: 1 - |pred_cc - target_cc| / target_cc per class with GT
    instances, clipped to [0, 1], averaged."""
    scores = []
    for c in range(num_classes):
        _, n_target = cc.label(target == c)
        if n_target == 0:
            continue
        _, n_pred = cc.label(pred == c)
        scores.append(max(0.0, min(1.0, 1.0 - abs(n_pred - n_target) / n_target)))
    return float(np.mean(scores)) if scores else 0.0


def levenshtein(a: str, b: str) -> int:
    """Edit distance, iterative DP (reference evaluate_ocr.py:13-33)."""
    if a == b:
        return 0
    if not a:
        return len(b)
    if not b:
        return len(a)
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def cer(pred: str, truth: str) -> float:
    """M7 with the reference's empty-truth guard (evaluate_ocr.py:17-18)."""
    if len(truth) == 0:
        return 1.0 if len(pred) > 0 else 0.0
    return levenshtein(pred, truth) / len(truth)


def box_count_mad(pred_counts: dict, gt_counts: dict) -> float:
    """M8: mean absolute difference of per-class box counts."""
    keys = sorted(set(pred_counts) | set(gt_counts))
    if not keys:
        return 0.0
    return float(
        np.mean([abs(pred_counts.get(k, 0) - gt_counts.get(k, 0)) for k in keys])
    )


def pixel_diff_fraction(a: np.ndarray, b: np.ndarray) -> float:
    """M9: fraction of differing pixels (evaluate_post_process.py:85-88)."""
    return float(np.mean(a != b))
