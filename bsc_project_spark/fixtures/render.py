"""Deterministic synthetic logbook-page renderer.

Renders grayscale pages (ink=0, background=255) with the table geometry the
reference pipeline expects (FIXTURES.md §2): 5 content columns delimited by
tall vertical grid lines, content confined to the LEFT HALF of the page
(matching the reference scans, whose margin detection only looks there —
reference scripts/dataset.py:8-29), plus one extra border line whose partial
erasure by the margin whiteout (rb = last_line - 5,
reference scripts/dataset.py:27,51) is part of the pinned semantics.

Geometry (original resolution 2048x1536, segmentation at 2x downsample):
- 7 vertical lines at x = 20 + 190*i (i=0..5) and x=1012; width 3 px
- the rightmost line is erased by the whiteout; the remaining 6 delimit the
  5 class bands (Year/Date/Latitude/Longitude/Temperature)
- rows at y = 80 + 72*r; glyphs at scale 5 (35 px line height)
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np

from ..kernels.font import render_text

ORIG_W = 2048
ORIG_H = 1536
LINE_XS = tuple(20 + 190 * i for i in range(6)) + (1012,)
LINE_W = 3
LINE_Y0 = 40
LINE_Y1 = 1500
ROW_Y0 = 80
ROW_PITCH = 72
TEXT_X_PAD = 15  # text starts this far right of a band's left line
GLYPH_SCALE = 5


@dataclass
class Cell:
    row: int
    col: int  # 0..4 = band/class index
    text: str
    scale: int = GLYPH_SCALE


@dataclass
class PageSpec:
    """Declarative page description; ``render`` turns it into pixels."""

    cells: list[Cell] = field(default_factory=list)
    noise_blobs: list[tuple[int, int, int]] = field(default_factory=list)  # (y, x, size)
    blank: bool = False  # no lines, no content (degenerate margin path)


def render_page(spec: PageSpec) -> np.ndarray:
    img = np.full((ORIG_H, ORIG_W), 255, dtype=np.uint8)
    if spec.blank:
        return img
    for lx in LINE_XS:
        img[LINE_Y0:LINE_Y1, lx : lx + LINE_W] = 0
    for cell in spec.cells:
        glyphs = render_text(cell.text, cell.scale)
        gh, gw = glyphs.shape
        y = ROW_Y0 + ROW_PITCH * cell.row
        x = LINE_XS[cell.col] + LINE_W + TEXT_X_PAD
        img[y : y + gh, x : x + gw] = np.minimum(img[y : y + gh, x : x + gw], glyphs)
    for (ny, nx, size) in spec.noise_blobs:
        img[ny : ny + size, nx : nx + size] = 0
    return img
