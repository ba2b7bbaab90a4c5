"""Deterministic 5x7 glyph atlas shared by the fixture renderer and the OCR
decoder.

The reference OCR model is a fine-tuned TrOCR with sampling-based decoding
(reference scripts/imgs2csv.py:163-174, nondeterministic by construction);
this engine pins deterministic decoding (SURVEY.md K20): fixtures render
known glyphs from this atlas and the decoder recovers them exactly via
template matching.  Charset covers the logbook value domain: digits,
decimal point, minus, and the N/S/E/W hemisphere letters
(cf. the committed golden database values, reference
merged_database_final.csv:2-30).
"""

from __future__ import annotations

import numpy as np

GLYPH_H = 7
GLYPH_W = 5

_RAW = {
    "0": ["01110", "10001", "10011", "10101", "11001", "10001", "01110"],
    "1": ["00100", "01100", "00100", "00100", "00100", "00100", "01110"],
    "2": ["01110", "10001", "00001", "00010", "00100", "01000", "11111"],
    "3": ["11111", "00010", "00100", "00010", "00001", "10001", "01110"],
    "4": ["00010", "00110", "01010", "10010", "11111", "00010", "00010"],
    "5": ["11111", "10000", "11110", "00001", "00001", "10001", "01110"],
    "6": ["00110", "01000", "10000", "11110", "10001", "10001", "01110"],
    "7": ["11111", "00001", "00010", "00100", "01000", "01000", "01000"],
    "8": ["01110", "10001", "10001", "01110", "10001", "10001", "01110"],
    "9": ["01110", "10001", "10001", "01111", "00001", "00010", "01100"],
    ".": ["00000", "00000", "00000", "00000", "00000", "01110", "01110"],
    "-": ["00000", "00000", "00000", "01110", "00000", "00000", "00000"],
    "N": ["10001", "11001", "11001", "10101", "10011", "10011", "10001"],
    "S": ["01111", "10000", "10000", "01110", "00001", "00001", "11110"],
    "E": ["11111", "10000", "10000", "11110", "10000", "10000", "11111"],
    "W": ["10001", "10001", "10001", "10101", "10101", "10101", "01010"],
}

ATLAS: dict[str, np.ndarray] = {
    ch: np.array([[c == "1" for c in row] for row in rows], dtype=bool)
    for ch, rows in _RAW.items()
}


def trimmed_atlas() -> dict[str, np.ndarray]:
    """Atlas with empty leading/trailing COLUMNS removed (rows kept, so
    vertical position still distinguishes '.' from '-')."""
    out = {}
    for ch, bm in ATLAS.items():
        cols = np.where(bm.any(axis=0))[0]
        out[ch] = bm[:, cols[0] : cols[-1] + 1]
    return out


def render_text(text: str, scale: int) -> np.ndarray:
    """Render a string as a 2-D uint8 image (ink=0, background=255) at an
    integer scale; each font pixel becomes a scale x scale block."""
    if not text:
        return np.full((GLYPH_H * scale, scale), 255, dtype=np.uint8)
    width_px = len(text) * (GLYPH_W + 1) - 1
    canvas = np.zeros((GLYPH_H, width_px), dtype=bool)
    x = 0
    for ch in text:
        if ch != " ":
            canvas[:, x : x + GLYPH_W] |= ATLAS[ch]
        x += GLYPH_W + 1
    img = np.where(canvas, 0, 255).astype(np.uint8)
    return np.kron(img, np.ones((scale, scale), dtype=np.uint8))
