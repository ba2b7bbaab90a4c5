"""Connected-component labeling + region properties, pure numpy.

Replaces skimage.measure.label / regionprops (used throughout the reference
post-processing: scripts/post_process.py:64,103,143,218) with a run-based
two-pass union-find.  8-connectivity (skimage's default connectivity=2 for
2-D), labels assigned in raster order of each component's first pixel —
matching skimage's observable labeling order so downstream sorts behave
identically.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np


@dataclass
class Region:
    """Subset of skimage regionprops used by the pipeline.

    bbox is (min_row, min_col, max_row, max_col) — half-open, exactly
    skimage's convention (reference scripts/post_process.py:67 unpacks it as
    y_min, x_min, y_max, x_max).
    """

    label: int
    bbox: tuple[int, int, int, int]
    area: int
    _labels: np.ndarray  # full labels array (shared, not copied)
    _slices: tuple

    @property
    def image(self) -> np.ndarray:
        """Boolean image cropped to bbox (skimage region.image); computed
        lazily on the bbox window only."""
        return self._labels[self._slices] == self.label


def _run_roots(
    rows: list[int], s_col: list[int], e_col: list[int], vals: list[int]
) -> list[int]:
    """Union-find over raster-ordered runs: runs of equal value on adjacent
    rows whose column spans 8-touch are one component.  Returns each run's
    root, which is the lowest run index of its component (union links the
    larger root under the smaller), so roots do not depend on union order.

    Adjacent rows are swept with two pointers (runs within a row are sorted
    and disjoint), so the pass is linear in runs plus touching pairs."""
    n_runs = len(rows)
    parent = list(range(n_runs))

    def find(x: int) -> int:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    prev_lo = prev_hi = 0  # runs of the previous row
    lo = 0
    while lo < n_runs:
        y = rows[lo]
        hi = lo + 1
        while hi < n_runs and rows[hi] == y:
            hi += 1
        if prev_hi > prev_lo and rows[prev_lo] == y - 1:
            j = prev_lo
            for i in range(lo, hi):
                s, e, v = s_col[i], e_col[i], vals[i]
                # previous-row runs ending left of this run's 8-reach can
                # reach no later run of this row either
                while j < prev_hi and e_col[j] + 1 <= s:
                    j += 1
                k = j
                while k < prev_hi and s_col[k] - 1 < e:
                    if vals[k] == v:
                        ra, rb = find(i), find(k)
                        if ra != rb:
                            if ra < rb:
                                parent[rb] = ra
                            else:
                                parent[ra] = rb
                    k += 1
        prev_lo, prev_hi = lo, hi
        lo = hi
    return [find(i) for i in range(n_runs)]


def class_runs(
    mask: np.ndarray, class_lo: int, class_hi: int
) -> tuple[list[int], list[int], list[int], list[int], list[int]]:
    """Per-class 8-connected components of ``mask`` as labelled runs:
    (rows, col_starts, col_ends, values, roots) over every maximal
    constant-value horizontal run with value in [class_lo, class_hi), in
    raster order (col_ends half-open).  Runs sharing a root form one
    component; a root is its component's first run in raster order.

    Run extraction is linear in pixels: one neighbour compare over the
    flattened mask, plus a strided write that marks every row start as a
    run boundary, so no run crosses a row wrap."""
    w = mask.shape[1]
    flat = mask.ravel()
    if flat.size == 0:
        return [], [], [], [], []
    d = flat[1:] != flat[:-1]
    d[w - 1 :: w] = True  # flat[k*w] starts a row: always a new run
    change = np.flatnonzero(d) + 1
    starts = np.concatenate(([0], change))
    ends = np.concatenate((change, [flat.size]))
    vals = flat[starts]
    keep = (vals >= class_lo) & (vals < class_hi)
    starts, ends, vals = starts[keep], ends[keep], vals[keep]
    row_arr = starts // w
    rows = row_arr.tolist()
    s_col = (starts - row_arr * w).tolist()
    e_col = (ends - row_arr * w).tolist()
    vals_l = vals.tolist()
    return rows, s_col, e_col, vals_l, _run_roots(rows, s_col, e_col, vals_l)


def label(mask: np.ndarray) -> tuple[np.ndarray, int]:
    """Label 8-connected components of a boolean mask.

    Returns (labels int32 HxW with 0 = background, num_components).
    Component ids are 1..n in raster order of first pixel (the True runs
    of ``class_runs``, numbered by root in order of first appearance).
    """
    mask = np.asarray(mask, dtype=bool)
    labels = np.zeros(mask.shape, dtype=np.int32)
    rows, s_col, e_col, _vals, roots = class_runs(mask.view(np.uint8), 1, 2)
    root_to_label: dict[int, int] = {}
    for y, s, e, r in zip(rows, s_col, e_col, roots):
        lbl = root_to_label.setdefault(r, len(root_to_label) + 1)
        labels[y, s:e] = lbl
    return labels, len(root_to_label)


def multiclass_regions(
    mask: np.ndarray, class_lo: int, class_hi: int
) -> dict[int, list[tuple[int, int, int, int, int]]]:
    """Per-class 8-connected components in ONE image pass.

    Returns {class_id: [(y0, x0, y1, x1, area), ...]} for classes in
    [class_lo, class_hi) — bbox in regionprops convention (half-open).
    Within a class, components come in raster order of their first pixel.
    Replaces per-class `mask == c` + label() + regionprops() sweeps: the
    runs come from ``class_runs`` (one linear run extraction over the
    whole mask), and bbox and area are folded per root run."""
    out: dict[int, list[tuple[int, int, int, int, int]]] = {
        c: [] for c in range(class_lo, class_hi)
    }
    rows, s_col, e_col, vals, roots = class_runs(mask, class_lo, class_hi)
    agg: dict[int, list[int]] = {}  # root -> [y0, x0, y1, x1, area, class]
    for y, s, e, v, r in zip(rows, s_col, e_col, vals, roots):
        a = agg.get(r)
        if a is None:
            agg[r] = [y, s, y + 1, e, e - s, v]
        else:
            if s < a[1]:
                a[1] = s
            if y + 1 > a[2]:
                a[2] = y + 1
            if e > a[3]:
                a[3] = e
            a[4] += e - s
    for y0, x0, y1, x1, area, v in agg.values():
        out[v].append((y0, x0, y1, x1, area))
    return out


def regionprops(labels: np.ndarray) -> list[Region]:
    """Bounding box + area per label, ordered by label id (skimage order)."""
    n = int(labels.max())
    if n == 0:
        return []
    flat = labels.ravel()
    nz = np.nonzero(flat)[0]
    if nz.size == 0:
        return []
    h, w = labels.shape
    ys, xs = np.divmod(nz, w)
    vals = flat[nz]
    order = np.argsort(vals, kind="stable")
    vals_s, ys_s, xs_s = vals[order], ys[order], xs[order]
    boundaries = np.searchsorted(vals_s, np.arange(1, n + 2))
    regions: list[Region] = []
    for lbl in range(1, n + 1):
        lo, hi = boundaries[lbl - 1], boundaries[lbl]
        if lo == hi:
            continue
        ry, rx = ys_s[lo:hi], xs_s[lo:hi]
        y0, y1 = int(ry.min()), int(ry.max()) + 1
        x0, x1 = int(rx.min()), int(rx.max()) + 1
        regions.append(
            Region(
                label=lbl,
                bbox=(y0, x0, y1, x1),
                area=int(hi - lo),
                _labels=labels,
                _slices=(slice(y0, y1), slice(x0, x1)),
            )
        )
    return regions
