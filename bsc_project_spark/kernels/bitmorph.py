"""Bit-packed binary morphology.

Erosion/dilation of binary images as AND/OR over shifted bit-planes on
np.packbits rows — 8x less memory traffic than uint8 min/max filtering.
Memory bandwidth (not cores) is the contended resource when 32 executor
workers run the kernels concurrently, so the hot morphology ops
(preprocess OPEN, vertical-line CLOSE and its column profile, per-class
region erode) run packed.

Semantics are those of uint8 {0,255} min/max filters with cv2 rect
kernels: window anchoring r_lo=(k-1)//2, and the border policy set by the
fill bit.
"""

from __future__ import annotations

import numpy as np


def _pack(mask: np.ndarray, fill: bool) -> np.ndarray:
    """Pack a boolean mask row-wise (big-endian bits).  Padding bits in the
    trailing byte are set to ``fill`` so out-of-image pixels behave as the
    border policy dictates."""
    p = np.packbits(mask, axis=1)
    w = mask.shape[1]
    rem = w % 8
    if fill and rem:
        p[:, -1] |= (1 << (8 - rem)) - 1
    return p


def _shift_row_bits(p: np.ndarray, s: int, fill: bool) -> np.ndarray:
    """Shift pixels horizontally by s (positive = pixels move right, i.e.
    out[j] = in[j - s]); vacated pixels become ``fill``."""
    if s == 0:
        return p
    h, nb = p.shape
    fill_byte = np.uint8(0xFF if fill else 0x00)
    b, t = divmod(abs(s), 8)
    ext = np.full((h, nb + b + 1), fill_byte, dtype=np.uint8)
    if s > 0:  # content moves right -> bytes shift right
        ext[:, b + 1 : b + 1 + nb] = p
        win = ext[:, 1 : 1 + nb]
        prev = ext[:, 0:nb]
        if t == 0:
            return win.copy()
        return ((win >> t) | (prev << (8 - t))).astype(np.uint8)
    else:  # content moves left
        ext[:, 0:nb] = p
        win = ext[:, b : b + nb]
        nxt = ext[:, b + 1 : b + 1 + nb]
        if t == 0:
            return win.copy()
        return ((win << t) | (nxt >> (8 - t))).astype(np.uint8)


def _window_reduce(p: np.ndarray, size: int, axis: int, fill: bool, is_and: bool) -> np.ndarray:
    """AND/OR over the window [i - r_lo, i + r_hi] along ``axis``, with
    r_lo = (size-1)//2: the anchor of a cv2 rect kernel, so an even size
    reaches one pixel further forward than back."""
    if size <= 1:
        return p
    r_lo = (size - 1) // 2
    r_hi = size - 1 - r_lo
    op = np.bitwise_and if is_and else np.bitwise_or
    if axis == 0:
        return _row_window_reduce(p, size, r_lo, fill, op)
    # out[i] = op over in[i + d] for d in [-r_lo, r_hi]; with
    # shifted_s[i] = in[i - s], that is the op of shifts s in [-r_hi, r_lo]
    acc = None
    for s in range(-r_hi, r_lo + 1):
        q = _shift_row_bits(p, s, fill)
        acc = q if acc is None else op(acc, q)
    return acc


def _row_window_reduce(p: np.ndarray, size: int, r_lo: int, fill: bool, op) -> np.ndarray:
    """The row axis of _window_reduce in O(log size) ops: on the rows
    padded with ``fill`` (ext[j] = in[j - r_lo]), out[i] is the op over
    ext[i : i + size].  ``cur`` holds the ops over runs of 2**b rows,
    doubled each step; every set bit of ``size`` appends one such run to
    ``acc``.  AND and OR are associative and idempotent, so the result
    equals the row-by-row op."""
    h = p.shape[0]
    ext = np.full((h + size - 1,) + p.shape[1:], np.uint8(0xFF if fill else 0x00))
    ext[r_lo : r_lo + h] = p
    acc, acc_w = None, 0  # acc[i] = op over ext[i : i + acc_w]
    cur, run = ext, 1     # cur[i] = op over ext[i : i + run]
    while True:
        if size & run:
            n = len(ext) - acc_w - run + 1
            acc = cur[:n] if acc is None else op(acc[:n], cur[acc_w : acc_w + n])
            acc_w += run
        if run * 2 > size:
            return acc[:h]
        cur = op(cur[:-run], cur[run:])
        run *= 2


def open_u8(img: np.ndarray, kh: int, kw: int) -> np.ndarray:
    """Morphological OPEN on a {0,255} uint8 image, entirely in the packed
    domain: pack once, erode (border=foreground) then dilate
    (border=background) on bit-planes, unpack once to {0,255} uint8.

    Byte-identical to
    ``where(binary_filter(binary_filter(img>0, kh,kw, erode,border=True),
    kh,kw, dilate,border=False), 255, 0)`` but skips the two bool
    materializations and the final where pass — three full-image
    temporaries (~18 MB/page at scan resolution) that the fleet-width
    DRAM budget cannot afford."""
    w = img.shape[1]
    rem = w % 8
    p = np.packbits(img, axis=1)  # nonzero -> 1
    if rem:  # erode assumes foreground outside the image
        p[:, -1] |= (1 << (8 - rem)) - 1
    p = _window_reduce(p, kh, 0, True, True)
    p = _window_reduce(p, kw, 1, True, True)
    if rem:  # dilate assumes background outside
        p[:, -1] &= np.uint8(0xFF ^ ((1 << (8 - rem)) - 1))
    p = _window_reduce(p, kh, 0, False, False)
    p = _window_reduce(p, kw, 1, False, False)
    out = np.unpackbits(p, axis=1, count=w)
    out *= np.uint8(255)
    return out


def vertical_close_packed(mask: np.ndarray, kh: int) -> np.ndarray:
    """Packed rows (1 = foreground) of the kh x 1 CLOSE of a 2-D mask
    (nonzero = foreground): dilate with a background border, then erode
    with a foreground border.  Bit-identical to packing
    ``binary_filter(binary_filter(mask, kh, 1, False, False), kh, 1, True,
    True)`` but never unpacks between the two passes; with a one-column
    kernel no bit moves sideways, so the trailing byte's padding bits
    stay 0 and mean nothing."""
    p = np.packbits(mask, axis=1)
    p = _window_reduce(p, kh, 0, False, False)
    return _window_reduce(p, kh, 0, True, True)


def column_popcount(p: np.ndarray, w: int) -> np.ndarray:
    """Per-column count of set bits over the rows of packed ``p``, for its
    first ``w`` columns (int64), without unpacking: viewed as uint64
    words, ``(word >> k) & 0x0101..01`` puts bit k of every byte in its
    own byte lane, and lanes summed over at most 255 rows cannot carry
    into each other."""
    h, nb = p.shape
    n = -(-h // 255)          # row blocks of at most 255 rows
    rows = -(-h // max(n, 1))
    nw = -(-nb // 8)
    words = np.zeros((n * rows, nw * 8), np.uint8)
    words[:h, :nb] = p
    words = words.view(np.uint64).reshape(n, rows, nw)
    lanes = np.uint64(0x0101010101010101)
    ones = np.empty((8, nw * 8), np.int64)
    for k in range(8):
        per_block = ((words >> np.uint64(k)) & lanes).sum(axis=1, dtype=np.uint64)
        ones[7 - k] = per_block.view(np.uint8).sum(axis=0, dtype=np.int64)
    return ones.T.reshape(-1)[:w]


def binary_filter(
    mask: np.ndarray, kh: int, kw: int, erode: bool, border: bool
) -> np.ndarray:
    """Erode (AND) or dilate (OR) a boolean mask with a kh x kw rect SE.

    ``border``: value assumed outside the image (True = foreground).
    Bit-identical to the uint8 min/max path for {0,255} images.
    """
    fill = border
    p = _pack(mask, fill)
    is_and = erode
    p = _window_reduce(p, kh, 0, fill, is_and)
    p = _window_reduce(p, kw, 1, fill, is_and)
    return np.unpackbits(p, axis=1, count=mask.shape[1]).astype(bool)
