"""Pure-numpy image-processing kernels (preprocessing stage).

Re-implements, from scratch and without OpenCV, the operations the reference
preprocessing uses (reference scripts/dataset.py:8-57):

- 3x3 Gaussian blur               (cv2.GaussianBlur(img,(3,3),0))
- adaptive Gaussian threshold      (cv2.adaptiveThreshold, blockSize, C)
- binary morphology (open, vertical close, mask erode) with rect kernels,
  run bit-packed in kernels/bitmorph.py
- vertical-line margin detection + whiteout
- INTER_AREA-style integer-factor downsample

Semantics notes (our engine's pinned definitions; deterministic):
- Gaussian 3x3 with sigma=0 uses OpenCV's fixed small kernel [1,2,1]/4,
  reflect-101 border, round-half-to-even.
- Adaptive threshold: 13-tap Gaussian-weighted local mean (sigma =
  0.3*((bs-1)*0.5 - 1) + 0.8, OpenCV's formula), replicate border, mean
  rounded to uint8, then out = 255 where src > mean - C else 0.
- Morphology on uint8 {0,255} images: erode = min-filter (border=255),
  dilate = max-filter (border=0); OPEN with iterations=k = k erosions then
  k dilations, i.e. one erosion and one dilation with the (k(ks-1)+1)-wide
  rect (matches cv2.morphologyEx semantics used at reference
  scripts/dataset.py:46-47); CLOSE = dilations then erosions.
"""

from __future__ import annotations

import numpy as np
from numpy.lib.stride_tricks import sliding_window_view

from ..config import ExtractConfig


# ---------------------------------------------------------------------------
# Convolution helpers
# ---------------------------------------------------------------------------

def _gaussian_kernel_1d(ksize: int, sigma: float) -> np.ndarray:
    """OpenCV-compatible 1-D Gaussian kernel.

    For sigma <= 0 OpenCV uses fixed small kernels for ksize <= 7
    ([1,2,1]/4 for ksize=3); otherwise sigma = 0.3*((ksize-1)*0.5 - 1) + 0.8.
    """
    if sigma <= 0:
        fixed = {
            1: np.array([1.0]),
            3: np.array([0.25, 0.5, 0.25]),
            5: np.array([0.0625, 0.25, 0.375, 0.25, 0.0625]),
            7: np.array([0.03125, 0.109375, 0.21875, 0.28125, 0.21875, 0.109375, 0.03125]),
        }
        if ksize in fixed:
            return fixed[ksize]
        sigma = 0.3 * ((ksize - 1) * 0.5 - 1) + 0.8
    x = np.arange(ksize, dtype=np.float64) - (ksize - 1) / 2.0
    k = np.exp(-(x**2) / (2.0 * sigma * sigma))
    return k / k.sum()


def _pad(img: np.ndarray, ry: int, rx: int, mode: str) -> np.ndarray:
    if mode == "reflect101":
        return np.pad(img, ((ry, ry), (rx, rx)), mode="reflect")
    if mode == "replicate":
        return np.pad(img, ((ry, ry), (rx, rx)), mode="edge")
    raise ValueError(mode)


def gaussian_blur3(img: np.ndarray) -> np.ndarray:
    """3x3 Gaussian blur, sigma auto (reference scripts/dataset.py:35).

    Exact integer path for the fixed [1,2,1]/4 kernel: per axis
    out = (a + 2b + c + rounding) with a single >> 4 at the end
    (round-half-up of the exact /16 value; deterministic pinned semantics).
    """
    p = _pad(img.astype(np.uint16), 1, 1, "reflect101")
    h, w = img.shape
    tmp = p[0 : h, :] + 2 * p[1 : h + 1, :] + p[2 : h + 2, :]          # <= 1020
    out = tmp[:, 0:w] + 2 * tmp[:, 1 : w + 1] + tmp[:, 2 : w + 2]      # <= 4080
    return ((out + 8) >> 4).astype(np.uint8)


def gaussian_smooth_1d(profile: np.ndarray, sigma: float, truncate: float = 4.0) -> np.ndarray:
    """1-D Gaussian smoothing with 'nearest' boundary.

    Stand-in for skimage.filters.gaussian on a 1-D profile (reference
    scripts/post_process.py:75); radius = int(truncate * sigma + 0.5).
    """
    p = np.asarray(profile, dtype=np.float64)
    if p.size == 0:
        return p
    radius = max(1, int(truncate * float(sigma) + 0.5))
    x = np.arange(-radius, radius + 1, dtype=np.float64)
    k = np.exp(-(x**2) / (2.0 * sigma * sigma))
    k /= k.sum()
    padded = np.pad(p, radius, mode="edge")
    return np.convolve(padded, k, mode="valid")


# ---------------------------------------------------------------------------
# Binarization
# ---------------------------------------------------------------------------

def adaptive_threshold_gaussian(
    img: np.ndarray, block_size: int = 13, c: float = 12.0, maxval: int = 255
) -> np.ndarray:
    """Adaptive Gaussian threshold, THRESH_BINARY.

    out[y,x] = maxval if img[y,x] > mean[y,x] - C else 0, where mean is the
    Gaussian-weighted blockSize x blockSize local mean rounded to uint8
    (reference scripts/dataset.py:36-43 uses cv2.adaptiveThreshold with
    ADAPTIVE_THRESH_GAUSSIAN_C, blockSize=13, C=12).

    Computed in cache-resident row strips (the full-image float temporaries
    of a naive separable convolution are what saturate memory bandwidth
    when 32 executor workers run concurrently).
    """
    sigma = 0.3 * ((block_size - 1) * 0.5 - 1) + 0.8
    k = _gaussian_kernel_1d(block_size, sigma).astype(np.float32)
    r = block_size // 2
    h, w = img.shape
    padded = _pad(img, r, r, "replicate")  # uint8, cheap
    out = np.empty((h, w), dtype=np.uint8)
    strip = max(32, (1 << 17) // (4 * (w + 2 * r)))  # ~128 KB float32 strip:
    # fits per-core L2 even with 32 concurrent workers (1 MB strips won
    # benchmarks single-process but lose ~20% under full-width contention)
    thr_c = np.float32(c)
    for y0 in range(0, h, strip):
        y1 = min(h, y0 + strip)
        sub = padded[y0 : y1 + 2 * r].astype(np.float32)
        n = y1 - y0
        tmp = _sep_gauss_vertical(sub, k, n)
        acc = _sep_gauss_horizontal(tmp, k, w)
        np.rint(acc, out=acc)  # mean of uint8: already in [0,255]
        acc -= thr_c
        out[y0:y1] = np.where(img[y0:y1] > acc, np.uint8(maxval), np.uint8(0))
    return out


def _sep_gauss_vertical(
    sub: np.ndarray, k: np.ndarray, n: int, out: np.ndarray | None = None,
    buf: np.ndarray | None = None,
) -> np.ndarray:
    """Vertical pass of the separable Gaussian over strip rows.

    Exploits kernel symmetry (k[i] == k[L-1-i]): each mirrored tap pair is
    added first, then scaled once — half the multiply-add sweeps of the
    naive tap loop, which matters because these float32 sweeps are the
    dominant DRAM traffic of the whole page pipeline.  MUST stay
    op-for-op identical to _sep_gauss_horizontal's order: binarize_fused
    and adaptive_threshold_gaussian both route through these helpers, and
    the fused==two-step byte-parity test pins the summation order.
    ``out`` and ``buf`` are optional (n, width) float32 scratch arrays.
    """
    L = len(k)
    r = L // 2
    tmp = np.multiply(sub[r : r + n], k[r], out=out)
    if buf is None:
        buf = np.empty_like(tmp)
    for i in range(r):
        np.add(sub[i : i + n], sub[L - 1 - i : L - 1 - i + n], out=buf)
        buf *= k[i]
        tmp += buf
    return tmp


def _sep_gauss_horizontal(
    tmp: np.ndarray, k: np.ndarray, w: int, out: np.ndarray | None = None,
    buf: np.ndarray | None = None,
) -> np.ndarray:
    L = len(k)
    r = L // 2
    acc = np.multiply(tmp[:, r : r + w], k[r], out=out)
    if buf is None:
        buf = np.empty_like(acc)
    for i in range(r):
        np.add(tmp[:, i : i + w], tmp[:, L - 1 - i : L - 1 - i + w], out=buf)
        buf *= k[i]
        acc += buf
    return acc


def estimate_skew(binary: np.ndarray, max_angle_deg: float = 2.0, steps: int = 21) -> float:
    """Estimate small page skew (degrees) by maximizing the variance of the
    horizontal ink projection over candidate shear angles.

    Classical deskew (the north-star's 'deskew' step): text lines are
    horizontal runs, so the row-ink histogram is sharpest (max variance)
    when the shear cancels the skew.  Works on the binarized page; columns
    are shifted by round(tan(angle) * x) — exact for the small angles
    scanned pages exhibit.
    """
    ink = binary < 128
    h, w = ink.shape
    if not ink.any():
        return 0.0
    col_ink = ink.sum(axis=0).astype(np.float64)
    xs = np.arange(w)
    # One FIXED histogram length for every candidate (padded to the global
    # max shift): a per-angle length would dilute each candidate's variance
    # by a different number of zero bins, making scores incomparable and
    # biasing the argmax toward small angles.
    base = int(np.rint(np.tan(np.deg2rad(max_angle_deg)) * (w - 1)))
    best_angle, best_score = 0.0, -1.0
    for angle in np.linspace(-max_angle_deg, max_angle_deg, steps):
        shift = np.rint(np.tan(np.deg2rad(angle)) * xs).astype(np.int64)
        # histogram of (row + shift[col]) over ink pixels, computed
        # column-wise: rows of column x land in bins rows+shift[x]
        profile = np.zeros(h + 2 * base + 1, dtype=np.float64)
        for x in np.nonzero(col_ink)[0]:
            rows = np.nonzero(ink[:, x])[0]
            np.add.at(profile, rows + shift[x] + base, 1.0)
        score = float(profile.var())
        if score > best_score:
            best_score, best_angle = score, float(angle)
    return best_angle


def deskew_gray(gray: np.ndarray, cfg: ExtractConfig) -> np.ndarray:
    """Deskew the GRAY page (when cfg.deskew_enabled): estimate the skew on
    a binarized view, cancel it on the gray source.

    Must run on the gray page, before everything else: bboxes are computed
    in deskewed mask space but OCR crops slice the gray page
    (kernels/golden.extract_page), so deskewing only the binarized/mask
    path would misalign crops by tan(angle)*x pixels — more than a row
    height at page width for a 1-degree skew."""
    if not cfg.deskew_enabled:
        return gray
    binary = binarize_fused(gray, cfg.adaptive_block_size, cfg.adaptive_c)
    angle = estimate_skew(binary, cfg.deskew_max_angle)
    return deskew(gray, -angle) if angle else gray


def deskew(img: np.ndarray, angle_deg: float, fill: int = 255) -> np.ndarray:
    """Cancel a small skew by vertical column shear (round(tan(a) * x))."""
    if angle_deg == 0.0:
        return img
    h, w = img.shape
    shift = np.rint(np.tan(np.deg2rad(angle_deg)) * np.arange(w)).astype(np.int64)
    out = np.full_like(img, fill)
    for s in np.unique(shift):
        cols = shift == s
        s = int(s)
        if s == 0:
            out[:, cols] = img[:, cols]
        elif s > 0:
            out[: h - s, cols] = img[s:, cols]
        else:
            out[-s:, cols] = img[: h + s, cols]
    return out


def binarize_fused(img: np.ndarray, block_size: int = 13, c: float = 12.0) -> np.ndarray:
    """blur3 + adaptive Gaussian threshold — byte-identical to
    adaptive_threshold_gaussian(gaussian_blur3(img)), with the Gaussian
    mean skipped wherever it cannot change a pixel.

    Every row is blurred once per page, in row blocks whose uint16
    temporaries stay cache-sized, into one uint8 page (1 byte/px) that
    already carries the block_size // 2 replicate halo of the mean
    (blurring a replicate-extended image does NOT equal replicating the
    blurred one, so the halo is replicated after the blur).  The strips of
    the mean, their halos and the tile test all read that page, so no
    strip re-blurs its 2 * (block_size // 2) halo rows.

    Blank tiles skip the Gaussian mean.  rint(mean) is a weighted average
    of the block_size x block_size window (float32 weights sum to 1 far
    inside the 0.5 rounding margin), so it is at most the window max, and
    a pixel with blur > max - C is 255 whatever the mean.  Each strip (32
    rows at page width) is cut into 512-column tiles; a tile is all 255
    when the largest blurred value in or within block_size // 2 rows and
    columns of it exceeds its smallest blurred pixel by less than
    floor(C).  One pass over the page tests every tile.  The other tiles
    run the float32 mean through the same _sep_gauss_vertical/
    _sep_gauss_horizontal helpers as the two-step path, so in the same
    summation order.  On the fixture pages 44 % of tiles run the mean; on
    a textured or noisy scan, or with C < 1, every tile does, and the tile
    test is all the extra work (preprocess then measured 3-6 % slower
    than without it)."""
    sigma = 0.3 * ((block_size - 1) * 0.5 - 1) + 0.8
    k = _gaussian_kernel_1d(block_size, sigma).astype(np.float32)
    r = block_size // 2
    h, w = img.shape
    W = w + 2 * r
    strip = max(32, (1 << 17) // (4 * W))  # 128 KB: see adaptive_threshold_gaussian

    n_strips = -(-h // strip)
    # blur3 (reflect-101 border via `raw`) into the core of the padded
    # page; its rows run on to a whole number of strips plus the halo
    raw = _pad(img, 1, 1, "reflect101")
    padded = np.empty((n_strips * strip + 2 * r, W), np.uint8)
    ta = np.empty((strip, w + 2), np.uint16)
    tb = np.empty((strip, w), np.uint16)
    for y0 in range(0, h, strip):
        m = min(strip, h - y0)
        p, a, b = raw[y0 : y0 + m + 2], ta[:m], tb[:m]
        np.add(p[0:m], p[2 : m + 2], out=a, dtype=np.uint16)
        np.add(a, p[1 : m + 1], out=a, dtype=np.uint16)
        np.add(a, p[1 : m + 1], out=a, dtype=np.uint16)
        np.add(a[:, 0:w], a[:, 2 : w + 2], out=b)
        np.add(b, a[:, 1 : w + 1], out=b)
        np.add(b, a[:, 1 : w + 1], out=b)
        b += 8
        np.right_shift(b, 4, out=padded[r + y0 : r + y0 + m, r : r + w], casting="unsafe")
    # replicate halo of the blurred page
    padded[r : r + h, :r] = padded[r : r + h, r : r + 1]
    padded[r : r + h, r + w :] = padded[r : r + h, r + w - 1 : r + w]
    padded[:r] = padded[r]
    padded[r + h :] = padded[r + h - 1]
    blur = padded[r : r + h, r : r + w]

    tile_w = 512
    tile_starts = np.arange(0, w, tile_w)
    # Decided iff max - blur < floor(C): then max - C <= blur - 1 exactly,
    # so even the float32 rint(mean) - C cannot round up to blur.  C < 1
    # decides no pixel, so there every tile stays undecided.
    undecided_from = max(int(np.floor(np.float32(c))), 0)
    if undecided_from:
        # the largest value within r rows and columns of each tile (the
        # replicated rows past h add no new values) against its smallest
        # pixel, for every strip at once
        rows_max = sliding_window_view(padded, strip + 2 * r, axis=0)[::strip].max(axis=-1)
        # np.maximum.reduceat over these bounds: its even outputs are the
        # tiles' columns with their halos, [c0, c1 + 2r)
        halo_bounds = np.stack([tile_starts, tile_starts + tile_w + 2 * r], axis=1).ravel()[:-1]
        tile_max = np.maximum.reduceat(rows_max, halo_bounds, axis=1)[:, ::2]
        core = padded[r : r + n_strips * strip, r : r + w].reshape(n_strips, strip, w)
        tile_min = np.minimum.reduceat(core.min(axis=1), tile_starts, axis=1)
        und = tile_max - tile_min.astype(np.int16) >= undecided_from
    else:
        und = np.ones((n_strips, tile_starts.size), bool)

    out = np.full((h, w), 255, np.uint8)
    thr_c = np.float32(c)
    # flat float32 scratch of the Gaussian mean: each span views the front;
    # a span upcasts its own uint8 rows in L2
    vsrc = np.empty((strip + 2 * r) * W, np.float32)
    vtmp, vbuf = np.empty(strip * W, np.float32), np.empty(strip * W, np.float32)
    hacc, hbuf = np.empty(strip * w, np.float32), np.empty(strip * w, np.float32)
    edges = np.zeros(tile_starts.size + 2, bool)  # False sentinel at each end
    for i in np.flatnonzero(und.any(axis=1)).tolist():
        y0 = i * strip
        n = min(strip, h - y0)
        # consecutive undecided tiles run as one span [c0, c1)
        edges[1:-1] = und[i]
        bounds = (np.flatnonzero(edges[1:] != edges[:-1]) * tile_w).clip(max=w).tolist()
        s = padded[y0 : y0 + n + 2 * r]
        for c0, c1 in zip(bounds[::2], bounds[1::2]):
            cw = c1 - c0
            vs = vsrc[: (n + 2 * r) * (cw + 2 * r)].reshape(n + 2 * r, cw + 2 * r)
            np.copyto(vs, s[:, c0 : c1 + 2 * r])
            vt, vb = (b[: n * (cw + 2 * r)].reshape(n, cw + 2 * r) for b in (vtmp, vbuf))
            ha, hb = (b[: n * cw].reshape(n, cw) for b in (hacc, hbuf))
            acc = _sep_gauss_horizontal(_sep_gauss_vertical(vs, k, n, vt, vb), k, cw, ha, hb)
            np.rint(acc, out=acc)  # mean of uint8: already in [0,255]
            acc -= thr_c
            # compare against the BLURRED pixel (reference thresholds the
            # blurred image, scripts/dataset.py:35-43)
            out[y0 : y0 + n, c0:c1] = np.where(
                blur[y0 : y0 + n, c0:c1] > acc, np.uint8(255), np.uint8(0)
            )
    return out


# ---------------------------------------------------------------------------
# Morphology (rect kernels; bit-packed, kernels/bitmorph.py)
# ---------------------------------------------------------------------------

def binary_erode_mask(mask: np.ndarray, ksize: int = 3) -> np.ndarray:
    """Erode a boolean mask with a ksize x ksize rect kernel (True shrinks).

    Matches cv2.erode on a {0,1} uint8 mask (reference
    scripts/post_process.py:126): cv2.erode's default borderValue is
    morphologyDefaultBorderValue() (+inf), i.e. the outside counts as
    FOREGROUND for a min filter, so pixels at the image edge do NOT erode
    and class regions touching the boundary keep their border pixels.
    Runs bit-packed (kernels/bitmorph.py).
    """
    from .bitmorph import binary_filter

    return binary_filter(np.asarray(mask, dtype=bool), ksize, ksize, erode=True, border=True)


# ---------------------------------------------------------------------------
# Margin detection + whiteout (reference scripts/dataset.py:8-29,49-51)
# ---------------------------------------------------------------------------

def find_vertical_line_bounds(img: np.ndarray, cfg: ExtractConfig) -> tuple[int, int]:
    """Locate the leftmost/rightmost vertical table borders in the LEFT HALF.

    Same observable algorithm as reference scripts/dataset.py:8-29:
    1. take left half of the (binarized) image
    2. vertical CLOSE with a 1-wide x 50-tall kernel — wipes ink features
       shorter than the kernel, keeping only tall vertical lines
    3. per-column count of black pixels; columns above 15% of the max are
       line columns
    4. bounds = (first_col - 10, last_col - 5) clamped to the half-width;
       blank pages (no lines) fall back to (0, half_width).
    """
    half_w = img.shape[1] // 2
    return vline_bounds_from_profile(vline_black_profile(img, cfg), half_w, cfg)


def vline_white_bits(img: np.ndarray, cfg: ExtractConfig) -> np.ndarray:
    """Packed rows (1 = white) of the vertically-CLOSEd LEFT HALF — the
    distributive core of find_vertical_line_bounds: the column profile is
    a per-column count over these rows, so horizontal BANDS of the page
    can each contribute their core rows' partial counts and the combined
    profile is EXACT (the tile-split path, pipeline/tiling.py, relies on
    this; band callers must pass a halo >= 2*vline_kernel_h and slice it
    off)."""
    from .bitmorph import vertical_close_packed

    # vertical CLOSE bit-packed: dilate, then erode, with a kernel_h x 1 rect.
    # NOTE: for the even 50-tall kernel both passes use the same window
    # anchor, whereas cv2.morphologyEx(MORPH_CLOSE) mirrors the anchor
    # between dilate and erode — the result equals cv2's close shifted
    # vertically by one row.  Deliberate 1-px deviation: per-column black
    # COUNTS feed a 15%-of-max threshold, which a one-row shift at the
    # image top/bottom cannot flip.
    return vertical_close_packed(img[:, : img.shape[1] // 2], cfg.vline_kernel_h)


def vline_black_profile(
    img: np.ndarray, cfg: ExtractConfig, rows: slice = slice(None)
) -> np.ndarray:
    """Per-column black-pixel count (int64) over ``rows`` of the
    vertically-CLOSEd left half, counted from the packed rows."""
    from .bitmorph import column_popcount

    white = vline_white_bits(img, cfg)[rows]
    return white.shape[0] - column_popcount(white, img.shape[1] // 2)


def vline_bounds_from_profile(
    col_profile: np.ndarray, half_w: int, cfg: ExtractConfig
) -> tuple[int, int]:
    """(lb, rb) decision from the per-column black-count profile — shared
    verbatim by the whole-page path above and the tile-split stitcher."""
    if col_profile.size == 0 or col_profile.max() == 0:
        return 0, half_w
    threshold = col_profile.max() * cfg.vline_profile_frac
    line_cols = np.where(col_profile > threshold)[0]
    if len(line_cols) == 0:
        return 0, half_w
    lb = max(0, int(line_cols[0]) - cfg.left_bound_pad)
    rb = min(half_w, int(line_cols[-1]) - cfg.right_bound_pad)
    return lb, rb


def whiteout_margins(img: np.ndarray, lb: int, rb: int) -> np.ndarray:
    """Set everything left of lb and right of rb to white (255); note this
    erases the rightmost table border itself — a reference quirk we keep
    (reference scripts/dataset.py:49-51 with rb = last_line_col - 5)."""
    out = img.copy()
    out[:, :lb] = 255
    out[:, rb:] = 255
    return out


# ---------------------------------------------------------------------------
# Resize (INTER_AREA integer decimation)
# ---------------------------------------------------------------------------

def resize_area(img: np.ndarray, target_w: int, target_h: int) -> np.ndarray:
    """Area-average downsample to (target_w, target_h).

    For integer factors this is an exact block mean (what INTER_AREA
    computes); non-integer factors use a general area-weighted average.
    Reference resizes with cv2.resize(..., INTER_AREA)
    (scripts/dataset.py:53); fixtures use exact 2x factors.
    """
    h, w = img.shape[:2]
    if h == target_h and w == target_w:
        return img.astype(np.uint8)
    if h % target_h == 0 and w % target_w == 0:
        fy, fx = h // target_h, w // target_w
        if fy == 2 and fx == 2:
            # 2x2 block mean via strided uint16 adds + rint lookup table —
            # no float temporaries (identical results: LUT[s] = rint(s/4))
            sums = img[0::2, 0::2].astype(np.uint16)
            sums += img[1::2, 0::2]
            sums += img[0::2, 1::2]
            sums += img[1::2, 1::2]
            lut = np.rint(np.arange(1021, dtype=np.float64) / 4.0).astype(np.uint8)
            return lut[sums]
        sums = img.reshape(target_h, fy, target_w, fx).astype(np.uint32).sum(axis=(1, 3))
        out = np.rint(sums.astype(np.float32) / (fy * fx))
        return out.astype(np.uint8)
    # General (non-integer factor) area average, SEPARABLE and fully
    # vectorized: per-axis cumulative sums gathered at the fractional
    # output-cell boundaries (linear interpolation of a cumsum == the
    # fractional-edge area weights).  The row pass is column-chunked so
    # the float64 cumsum never materializes more than ~256 MB — the old
    # bilinear-integral version allocated (h+1)x(w+1) float64 (2.5 GB on
    # a 315M-px giant page) and looped target pixels in PYTHON (~23 s
    # inside the tile-split stitch task; this path is <1.5 s there).
    ys = np.linspace(0, h, target_h + 1)
    xs = np.linspace(0, w, target_w + 1)
    yi = np.minimum(ys.astype(np.int64), h)
    fy = ys - yi
    yi1 = np.minimum(yi + 1, h)
    row_sums = np.empty((target_h, w), dtype=np.float64)
    chunk = max(1, (1 << 25) // (h + 1))  # ~256 MB of float64 per chunk
    for c0 in range(0, w, chunk):
        c1 = min(w, c0 + chunk)
        cum = np.zeros((h + 1, c1 - c0), dtype=np.float64)
        np.cumsum(img[:, c0:c1], axis=0, dtype=np.float64, out=cum[1:])
        bound = cum[yi] * (1.0 - fy)[:, None] + cum[yi1] * fy[:, None]
        row_sums[:, c0:c1] = bound[1:] - bound[:-1]
    xi = np.minimum(xs.astype(np.int64), w)
    fx = xs - xi
    xi1 = np.minimum(xi + 1, w)
    cum2 = np.zeros((target_h, w + 1), dtype=np.float64)
    np.cumsum(row_sums, axis=1, out=cum2[:, 1:])
    bound2 = cum2[:, xi] * (1.0 - fx)[None, :] + cum2[:, xi1] * fx[None, :]
    sums = bound2[:, 1:] - bound2[:, :-1]
    area = (ys[1:] - ys[:-1])[:, None] * (xs[1:] - xs[:-1])[None, :]
    return np.rint(sums / area).clip(0, 255).astype(np.uint8)


# ---------------------------------------------------------------------------
# Full preprocessing chain (reference scripts/dataset.py:31-57)
# ---------------------------------------------------------------------------

def preprocess(gray: np.ndarray, cfg: ExtractConfig) -> np.ndarray:
    """Binarize + denoise + margin-crop + resize a grayscale page.

    Mirrors reference preprocess() step-for-step (scripts/dataset.py:31-57):
    blur3 -> adaptive Gaussian threshold(BS, C) -> 3x3 OPEN x2 ->
    vertical-line margin whiteout -> INTER_AREA resize.  Input here is
    already grayscale (our media table stores grayscale pages; the
    reference's BGR->gray convert is the identity for them).  Returns the
    resized uint8 binary image (single channel; the reference's 3-channel
    stack at scripts/dataset.py:56 is a model-input formality we drop).
    """
    img = binarize_fused(gray, cfg.adaptive_block_size, cfg.adaptive_c)
    # 3x3 OPEN x2 (== one 5x5 OPEN) bit-packed end-to-end: white
    # foreground, erode border = foreground, dilate border = background
    # (cv2 defaults)
    from .bitmorph import open_u8

    img = open_u8(img, 5, 5)
    lb, rb = find_vertical_line_bounds(img, cfg)
    img = whiteout_margins(img, lb, rb)
    img = resize_area(img, cfg.target_width, cfg.target_height)
    return img
