"""OCR kernels: crop extraction, padding, deterministic glyph decode.

Replaces the reference's TrOCR decode (reference scripts/imgs2csv.py:156-184,
204-222) with a deterministic template-matching decoder over the engine's
glyph atlas (kernels/font.py).  The reference's decode is stochastic
(do_sample=True, scripts/imgs2csv.py:166); this engine pins deterministic
decoding (SURVEY.md K20) — the correctness contract is exact span equality
against golden transcripts.

Decode algorithm (pure numpy, exact on fixture renders, tolerant of the
1-2 px bbox clipping the erode step introduces):
1. binarize the crop (< ocr_ink_threshold) and take its integral image
2. try the nominal glyph scale, then clip-compensated estimates from the
   ink height; keep the first scale with the strictly lowest total
   distance, and stop at an exact (distance 0) decode
3. at one scale, split the ink columns into glyph segments at gaps >=
   ~half the scale, then sample every segment at every one of the
   scale x scale sub-pixel offsets in one gather from the integral image,
   majority-voting each scale x scale block into a GLYPH_H x GLYPH_W
   font-pixel bitmap
4. trim each bitmap by shifting its first ink column (and, for
   partial-height content, its first ink row) to the frame origin, and
   take the Hamming distance of every bitmap to every atlas glyph in one
   matmul
5. per segment keep the first (offset, char) at the minimum distance:
   offsets in dy-major order, then chars in sorted order (fully
   deterministic).  _decode_at_scale_ref is the same decode as a
   sequential loop, kept as the parity oracle.
"""

from __future__ import annotations

import numpy as np

from ..config import ExtractConfig
from .font import GLYPH_H, GLYPH_W, trimmed_atlas

_TRIMMED = trimmed_atlas()
_CHARS = sorted(_TRIMMED.keys())

# Stacked, zero-padded atlas for vectorized Hamming matching.  Padding both
# pattern and reference to the SAME (GLYPH_H, GLYPH_W) frame yields exactly
# the pad-to-common-size distance (extra cells are False on both sides).
_ATLAS_FULL = np.zeros((len(_CHARS), GLYPH_H, GLYPH_W), dtype=bool)
_ATLAS_PART = np.zeros((len(_CHARS), GLYPH_H, GLYPH_W), dtype=bool)
for _i, _ch in enumerate(_CHARS):
    _bm = _TRIMMED[_ch]
    _ATLAS_FULL[_i, : _bm.shape[0], : _bm.shape[1]] = _bm
    _rows = np.where(_bm.any(axis=1))[0]
    _t = _bm[_rows[0] : _rows[-1] + 1]
    _ATLAS_PART[_i, : _t.shape[0], : _t.shape[1]] = _t
# the same stacks as (GLYPH_H * GLYPH_W, n_chars) float32 matmul operands
_FLAT_FULL, _FLAT_PART = (a.reshape(len(_CHARS), -1).T.astype(np.float32)
                          for a in (_ATLAS_FULL, _ATLAS_PART))


def crop_cell(gray: np.ndarray, x1: int, y1: int, x2: int, y2: int) -> np.ndarray:
    """Crop [y1:y2, x1:x2] from the ORIGINAL grayscale page (the reference
    crops the original image, not the preprocessed one —
    scripts/imgs2csv.py:157), clamped to bounds."""
    h, w = gray.shape
    x1c, x2c = max(0, x1), min(w, x2)
    y1c, y2c = max(0, y1), min(h, y2)
    if x2c <= x1c or y2c <= y1c:
        return np.full((1, 1), 255, dtype=np.uint8)
    return gray[y1c:y2c, x1c:x2c]


def pad_for_ocr(crop: np.ndarray, min_size: int = 32) -> np.ndarray:
    """Pad with white to at least min_size x min_size, image kept at the
    top-left corner (reference scripts/imgs2csv.py:204-222 pastes at (0,0))."""
    h, w = crop.shape
    if h >= min_size and w >= min_size:
        return crop
    out = np.full((max(h, min_size), max(w, min_size)), 255, dtype=np.uint8)
    out[:h, :w] = crop
    return out


def _segments_from_columns(ink: np.ndarray, gap_min: int) -> list[tuple[int, int]]:
    """[(x_start, x_end)) glyph segments from per-column ink presence."""
    col_has = ink.any(axis=0)
    cols = np.where(col_has)[0]
    if cols.size == 0:
        return []
    segments = []
    start = prev = int(cols[0])
    for c in cols[1:]:
        c = int(c)
        if c - prev >= gap_min:
            segments.append((start, prev + 1))
            start = c
        prev = c
    segments.append((start, prev + 1))
    return segments


def _integral(ink: np.ndarray) -> np.ndarray:
    """(H+1, W+1) integral image of a boolean mask."""
    h, w = ink.shape
    out = np.zeros((h + 1, w + 1), dtype=np.int32)
    np.cumsum(np.cumsum(ink, axis=0), axis=1, out=out[1:, 1:])
    return out


def _sample_bitmap(
    integral: np.ndarray, y0: int, x0: int, scale: int, n_rows: int, n_cols: int
) -> np.ndarray:
    """Majority-vote scale x scale blocks into an n_rows x n_cols bitmap
    (visible-area majority at crop edges), via the integral image."""
    h, w = integral.shape[0] - 1, integral.shape[1] - 1
    ys = np.clip(y0 + np.arange(n_rows + 1) * scale, 0, h)
    xs = np.clip(x0 + np.arange(n_cols + 1) * scale, 0, w)
    s = integral[np.ix_(ys, xs)]
    block = s[1:, 1:] - s[:-1, 1:] - s[1:, :-1] + s[:-1, :-1]
    area = np.outer(np.diff(ys), np.diff(xs))
    return block * 2 >= np.maximum(area, 1)


def _trim_cols(bitmap: np.ndarray) -> np.ndarray:
    used = np.where(bitmap.any(axis=0))[0]
    if used.size == 0:
        return bitmap[:, :0]
    return bitmap[:, used[0] : used[-1] + 1]


def _pad_to(a: np.ndarray, h: int, w: int) -> np.ndarray:
    out = np.zeros((h, w), dtype=bool)
    out[: a.shape[0], : a.shape[1]] = a
    return out


def _match_stack(t: np.ndarray, stack: np.ndarray) -> tuple[str, int]:
    p = _pad_to(t, GLYPH_H, GLYPH_W)
    dists = np.count_nonzero(p[None, :, :] ^ stack, axis=(1, 2))
    i = int(np.argmin(dists))  # ties: first in sorted char order (deterministic)
    return _CHARS[i], int(dists[i])


def _match_char(bitmap: np.ndarray) -> tuple[str, int]:
    """(char, hamming distance) for the best atlas match, column-trimmed,
    row positions kept (distinguishes '.' from '-'); deterministic."""
    return _match_stack(_trim_cols(bitmap), _ATLAS_FULL)


def _trim_rows_cols(bitmap: np.ndarray) -> np.ndarray:
    rows = np.where(bitmap.any(axis=1))[0]
    cols = np.where(bitmap.any(axis=0))[0]
    if rows.size == 0 or cols.size == 0:
        return bitmap[:0, :0]
    return bitmap[rows[0] : rows[-1] + 1, cols[0] : cols[-1] + 1]


def _match_char_partial(bitmap: np.ndarray) -> tuple[str, int]:
    """Fully-trimmed match for partial-height content (e.g. '.'-only cells,
    where no full-height glyph anchors the line top)."""
    return _match_stack(_trim_rows_cols(bitmap), _ATLAS_PART)


def _decode_at_scale_ref(
    ink: np.ndarray, scale: int, ink_top: int, ink_height: int,
    integral: np.ndarray | None = None,
) -> tuple[str, int]:
    """Reference (sequential) decode — kept as the parity oracle for the
    batched _decode_at_scale; same result, segment and offset loops in
    Python."""
    if integral is None:
        integral = _integral(ink)
    full_height = ink_height >= 0.75 * GLYPH_H * scale
    gap_min = max(2, scale // 2 + 1)
    chars = []
    total = 0
    for xs, xe in _segments_from_columns(ink, gap_min):
        seg_width = xe - xs
        n_cols = min(GLYPH_W, max(1, int(np.ceil(seg_width / scale))))
        if full_height:
            anchor = ink_top
            n_rows = GLYPH_H
            matcher = _match_char
        else:
            seg_rows = np.where(ink[:, xs:xe].any(axis=1))[0]
            anchor = int(seg_rows[0])
            n_rows = min(GLYPH_H, max(1, int(np.ceil((seg_rows[-1] - seg_rows[0] + 1) / scale))))
            matcher = _match_char_partial
        best_char, best_dist = "", 1 << 30
        for dy in range(scale):
            for dx in range(scale):
                bm = _sample_bitmap(integral, anchor - dy, xs - dx, scale, n_rows, n_cols)
                ch, dist = matcher(bm)
                if dist < best_dist:
                    best_char, best_dist = ch, dist
                if best_dist == 0:
                    break
            if best_dist == 0:
                break
        chars.append(best_char)
        total += best_dist
    return "".join(chars), total


def _segment_bounds(ink: np.ndarray, gap_min: int) -> tuple[np.ndarray, np.ndarray]:
    """(starts, ends) of the [x_start, x_end) glyph segments — the same
    split as _segments_from_columns, without its Python loop."""
    cols = np.flatnonzero(ink.any(axis=0))
    if cols.size == 0:
        return cols, cols
    cut = np.flatnonzero(np.diff(cols) >= gap_min) + 1
    return cols[np.r_[0, cut]], cols[np.r_[cut - 1, cols.size - 1]] + 1


def _decode_at_scale(
    ink: np.ndarray, scale: int, ink_top: int, ink_height: int,
    integral: np.ndarray | None = None,
) -> tuple[str, int]:
    """Decode all glyph segments at a fixed scale; returns (text, total_dist).
    Every segment and every sub-pixel offset is sampled and matched in one
    batch (parity with _decode_at_scale_ref pinned by a fuzz test)."""
    if integral is None:
        integral = _integral(ink)
    full_height = ink_height >= 0.75 * GLYPH_H * scale
    starts, ends = _segment_bounds(ink, max(2, scale // 2 + 1))
    if starts.size == 0:
        return "", 0
    h, w = ink.shape
    n_cols = np.clip(-(-(ends - starts) // scale), 1, GLYPH_W)
    if full_height:
        anchor = np.full_like(starts, ink_top)
        n_rows = np.full_like(starts, GLYPH_H)
        atlas = _FLAT_FULL
    else:
        # rows of each segment's ink; the columns between segments are
        # blank, so reducing from one start to the next is exact
        seg_ink = np.logical_or.reduceat(ink, starts, axis=1)  # (h, S)
        anchor = seg_ink.argmax(axis=0)
        last = h - 1 - seg_ink[::-1].argmax(axis=0)
        n_rows = np.clip(-(-(last - anchor + 1) // scale), 1, GLYPH_H)
        atlas = _FLAT_PART
    # sampling grids of every (segment, dy) and (segment, dx) on the full
    # GLYPH_H x GLYPH_W frame; offset index dy * scale + dx is dy-major,
    # the order the sequential reference scans
    off = np.arange(scale)
    ys = np.clip(anchor[:, None, None] - off[:, None] + np.arange(GLYPH_H + 1) * scale, 0, h)
    xs = np.clip(starts[:, None, None] - off[:, None] + np.arange(GLYPH_W + 1) * scale, 0, w)
    s = integral[ys[:, :, None, :, None], xs[:, None, :, None, :]]  # (S, s, s, H+1, W+1)
    block = s[..., 1:, 1:] - s[..., :-1, 1:] - s[..., 1:, :-1] + s[..., :-1, :-1]
    area = np.diff(ys)[:, :, None, :, None] * np.diff(xs)[:, None, :, None, :]
    bm = block * 2 >= np.maximum(area, 1)
    # cells past a segment's own n_rows x n_cols bitmap are not sampled
    bm &= (np.arange(GLYPH_H) < n_rows[:, None])[:, None, None, :, None]
    bm &= (np.arange(GLYPH_W) < n_cols[:, None])[:, None, None, None, :]
    bm = bm.reshape(-1, GLYPH_H, GLYPH_W)
    # trim by shifting the first ink column (and, for partial-height
    # content, row) to the frame origin: everything right of or below the
    # ink box is already False, so the shift equals pad(trim(bm)); an
    # empty bitmap stays empty
    r0 = np.zeros(len(bm), np.intp) if full_height else bm.any(axis=2).argmax(axis=1)
    c0 = bm.any(axis=1).argmax(axis=1)
    padded = np.zeros((len(bm), 2 * GLYPH_H, 2 * GLYPH_W), dtype=bool)
    padded[:, :GLYPH_H, :GLYPH_W] = bm
    frames = padded[
        np.arange(len(bm))[:, None, None],
        r0[:, None, None] + np.arange(GLYPH_H)[:, None],
        c0[:, None, None] + np.arange(GLYPH_W),
    ]
    # Hamming distance |f| + |a| - 2|f & a| as one matmul; small integers,
    # so exact in float32
    f = frames.reshape(len(bm), -1).astype(np.float32)
    dists = f.sum(axis=1, keepdims=True) + atlas.sum(axis=0) - 2 * (f @ atlas)
    # per segment, the first (offset, char) pair at the minimum: the first
    # offset reaching it, then the first char in sorted order
    dists = dists.reshape(starts.size, -1)
    best = dists.argmin(axis=1)
    text = "".join(_CHARS[i] for i in best % len(_CHARS))
    return text, int(dists[np.arange(starts.size), best].sum())


def decode_cell(crop: np.ndarray, cfg: ExtractConfig, scale: int | None = None) -> str:
    """Decode one cell crop into its text (deterministic).

    The crop's line height can be clipped a few pixels by the erode step
    (reference scripts/post_process.py:126 has the same effect on model
    regions), so the glyph scale is not read off the ink height directly:
    the decoder tries the nominal cfg scale plus clip-compensated estimates
    and keeps the decode with the lowest total template distance.
    """
    if scale is None:
        scale = cfg.ocr_glyph_scale
    ink = crop < cfg.ocr_ink_threshold
    if not ink.any():
        return ""
    rows = np.where(ink.any(axis=1))[0]
    ink_top = int(rows[0])
    ink_height = int(rows[-1]) - ink_top + 1
    candidates = [scale]
    for est in (
        int(round(ink_height / GLYPH_H)),
        int(round((ink_height + 5) / GLYPH_H)),
    ):
        if est >= 1 and est not in candidates:
            candidates.append(est)
    best_text, best_total = "", 1 << 30
    integral = _integral(ink)
    for s in candidates:
        text, total = _decode_at_scale(ink, s, ink_top, ink_height, integral)
        if total < best_total:
            best_text, best_total = text, total
        if best_total == 0:
            break
    return best_text
