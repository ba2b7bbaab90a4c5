"""Deterministic synthetic corpus builder (the `input_hint` tables).

Builds, entirely from a seed and with no external data:

- ``documents(doc_id, spans: array<struct<kind,text,media_ref,offset>>)`` —
  interleaved text + media spans; a typical document carries a top/bottom
  page pair at consecutive offsets (the reference's page-pair model,
  scripts/imgs2csv.py:14-71,109)
- ``media(media_ref, content: binary PNG, width, height, layout_id)``
- ``golden_spans(doc_id, order, kind, text, media_ref)`` — expected output,
  computed by the single-process golden extractor (kernels/golden.py)
- ``intended_cells(media_ref, row, col, text)`` — what was actually drawn,
  for the stronger "OCR recovered the rendered truth" assertions

A skew cohort of documents carries many media spans (re-referencing shared
pages, so goldens stay cheap) to exercise salted repartitioning.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
import pandas as pd

from ..config import ExtractConfig
from ..io.png import decode_gray, encode_gray
from ..kernels.golden import extract_page
from .render import GLYPH_SCALE, ORIG_H, ORIG_W, PageSpec, Cell, render_page

# Config matched to the fixture geometry (2048x1536 pages, 2x downsample,
# 35 px glyph lines -> ~18 px at segmentation scale).  Same kernels and
# parameter ROLES as the reference defaults; values scaled to fixture
# resolution (reference runs 3200x2496 -> 1600x1248 with erh=40).
FIXTURE_CONFIG = ExtractConfig(
    target_width=1024,
    target_height=768,
    min_region_size=100,
    expected_row_height=18,
    row_threshold=18,
    seg_close_h=5,
    ocr_glyph_scale=GLYPH_SCALE,
)


def _h(*parts: int) -> int:
    """Small deterministic integer hash (stable across runs/platforms)."""
    x = 0x9E3779B9
    for p in parts:
        x = (x ^ (p + 0x7F4A7C15)) * 0x85EBCA6B % (1 << 32)
    return x


def _cell_text(page_idx: int, row: int, col: int) -> str:
    h = _h(page_idx, row, col)
    if col == 0:
        return str(1890 + h % 30)
    if col == 1:
        return f"{1 + h % 28}.{1 + h % 12}"
    if col == 2:
        return f"{50 + h % 10}.{h % 10}N"
    if col == 3:
        return f"{h % 90}.{h % 10}E"
    sign = "-" if h % 3 == 0 else ""
    return f"{sign}{h % 20}.{h % 10}"


def page_spec(page_idx: int) -> PageSpec:
    """Deterministic page layout for a given page index, with degenerate
    cases woven in (FIXTURES.md §2): blank pages, sub-threshold noise,
    tall glyphs (exercises the separate-tall guard), dot-only and
    single-char cells (exercises OCR padding, reference
    scripts/imgs2csv.py:204-222)."""
    if page_idx % 11 == 7:
        return PageSpec(blank=True)
    h = _h(page_idx)
    n_rows = 3 + h % 4
    cells: list[Cell] = []
    for row in range(n_rows):
        for col in range(5):
            hc = _h(page_idx, row, col, 7)
            if hc % 100 < 15:
                continue  # blank cell -> missing (row, col), like a NaN matrix hole
            cells.append(Cell(row=row, col=col, text=_cell_text(page_idx, row, col)))
    if page_idx % 7 == 5 and n_rows >= 2:
        # tall glyphs: full-height region > 1.15*expected_row_height, solid
        # profile -> separate_tall's no-valley guard path
        cells = [c for c in cells if not (c.row == 1 and c.col == 2)]
        cells.append(Cell(row=1, col=2, text="1907", scale=7))
    if page_idx % 7 == 6 and n_rows >= 2:
        cells = [c for c in cells if not (c.row == 1 and c.col in (1, 3))]
        cells.append(Cell(row=1, col=1, text="1.."))  # dots (partial-height glyphs in-line)
        cells.append(Cell(row=1, col=3, text="1"))  # tiny crop -> OCR padding
    noise: list[tuple[int, int, int]] = []
    if page_idx % 7 == 3:
        # sub-min_region_size blobs in bands 1 and 2, between text rows
        noise.append((100 + 72 * 1 + 50, 420, 12))
        noise.append((100 + 72 * 2 + 50, 610, 12))
    return PageSpec(cells=cells, noise_blobs=noise)


@dataclass
class Corpus:
    documents: pd.DataFrame
    media: pd.DataFrame
    golden: pd.DataFrame
    intended: pd.DataFrame
    config: ExtractConfig = field(default_factory=lambda: FIXTURE_CONFIG)


def _page_refs(pair_idx: int) -> tuple[str, str]:
    return (f"page_{pair_idx:05d}-t", f"page_{pair_idx:05d}-b")


def media_row(page_idx: int) -> dict:
    """Render one page and wrap it as a media-table row.  Pure function of
    ``page_idx`` — any executor can generate any page independently (the
    distributed-synthesis contract the logbook_corpus data source relies
    on)."""
    pair, k = divmod(page_idx, 2)
    ref = _page_refs(pair)[k]
    img = render_page(page_spec(page_idx))
    return {
        "media_ref": ref,
        "content": encode_gray(img),
        "width": ORIG_W,
        "height": ORIG_H,
        "layout_id": page_idx,
    }


def doc_spans(d: int, n_docs: int, skew_every: int = 0, skew_spans: int = 24) -> list[dict]:
    """Span list for document ``d`` — pure function of (d, n_docs, skew
    config); shared by build_corpus and the logbook_corpus data source so
    both produce byte-identical documents."""
    spans: list[dict] = []
    offset = 0

    def add_text(t: str) -> None:
        nonlocal offset
        spans.append({"kind": "text", "text": t, "media_ref": None, "offset": offset})
        offset += 1

    def add_media(ref: str) -> None:
        nonlocal offset
        spans.append({"kind": "media", "text": None, "media_ref": ref, "offset": offset})
        offset += 1

    all_refs = [r for pair in range(n_docs) for r in _page_refs(pair)]
    add_text(f"logbook volume {d} header")
    if skew_every and d % skew_every == skew_every - 1:
        for j in range(skew_spans):
            add_media(all_refs[_h(d, j) % len(all_refs)])
    else:
        top_ref, bot_ref = _page_refs(d)
        add_media(top_ref)
        add_media(bot_ref)
        if d % 2 == 0:
            add_text(f"marginal note {d}")
    add_text(f"logbook volume {d} footer")
    return spans


def span_tuples(spans: list[dict]) -> list[tuple]:
    """Span dicts -> SPAN_STRUCT-ordered tuples — the ONE place the
    struct field order is encoded (spark_io and both corpus_source
    readers share it)."""
    return [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in spans]


def doc_row(d: int, n_docs: int, skew_every: int = 0, skew_spans: int = 24) -> tuple:
    """One documents-table row as a DOCUMENTS_SCHEMA-ordered tuple."""
    return (f"doc_{d:06d}", span_tuples(doc_spans(d, n_docs, skew_every, skew_spans)))


def build_corpus(
    n_docs: int = 6,
    seed: int = 42,
    skew_every: int = 0,
    skew_spans: int = 24,
    compute_golden: bool = True,
) -> Corpus:
    """Build a corpus of ``n_docs`` documents (one page pair each, plus
    interleaved text spans).  Every ``skew_every``-th document (if > 0)
    instead carries ``skew_spans`` media spans re-referencing earlier pages
    — the heavy-doc skew cohort."""
    media_rows: list[dict] = []
    doc_rows: list[dict] = []
    golden_rows: list[dict] = []
    intended_rows: list[dict] = []
    golden_cache: dict[str, list[tuple[int, int, str]]] = {}

    for pair in range(n_docs):
        for k, ref in enumerate(_page_refs(pair)):
            page_idx = 2 * pair + k
            spec = page_spec(page_idx)
            mrow = media_row(page_idx)
            media_rows.append(mrow)
            if compute_golden:
                golden_cache[ref] = extract_page(
                    decode_gray(mrow["content"]), FIXTURE_CONFIG, GLYPH_SCALE
                )
            for cell in spec.cells:
                intended_rows.append(
                    {
                        "media_ref": ref,
                        "row": cell.row,
                        "col": cell.col,
                        "text": cell.text,
                        "scale": cell.scale,
                    }
                )

    for d in range(n_docs):
        doc_id = f"doc_{d:06d}"
        spans = doc_spans(d, n_docs, skew_every, skew_spans)
        doc_rows.append({"doc_id": doc_id, "spans": spans})

        if not compute_golden:
            continue
        order = 0
        for span in spans:
            if span["kind"] == "text":
                golden_rows.append(
                    {
                        "doc_id": doc_id,
                        "order": order,
                        "kind": "text",
                        "text": span["text"],
                        "media_ref": None,
                    }
                )
                order += 1
            else:
                for row, col, text in golden_cache[span["media_ref"]]:
                    golden_rows.append(
                        {
                            "doc_id": doc_id,
                            "order": order,
                            "kind": "ocr",
                            "text": text,
                            "media_ref": span["media_ref"],
                        }
                    )
                    order += 1

    return Corpus(
        documents=pd.DataFrame(doc_rows),
        media=pd.DataFrame(media_rows),
        golden=pd.DataFrame(golden_rows),
        intended=pd.DataFrame(intended_rows),
    )


def build_golden_masks(n_pages: int) -> pd.DataFrame:
    """golden_masks(media_ref, h, w, rle) — FIXTURES.md §5.

    The post-processed class mask (preprocess -> segment ->
    post_process_mask, reference scripts/post_process.py:176-195) of each
    fixture page, RLE-encoded.  The single-process golden counterpart of
    pipeline/masks.segment_masks; mask-level regression catches kernel
    drift that span-level equality could mask (e.g. a bbox shifted within
    the same decoded text)."""
    from ..kernels.imgproc import preprocess
    from ..kernels.postprocess import post_process_mask
    from ..kernels.rle import mask_to_rle
    from ..kernels.segment import segment_page

    rows = []
    for page_idx in range(n_pages):
        pair, k = divmod(page_idx, 2)
        ref = _page_refs(pair)[k]
        img = render_page(page_spec(page_idx))
        mask = post_process_mask(segment_page(preprocess(img, FIXTURE_CONFIG), FIXTURE_CONFIG), FIXTURE_CONFIG)
        rows.append(
            {
                "media_ref": ref,
                "h": mask.shape[0],
                "w": mask.shape[1],
                "rle": [{"class": c, "run": r} for c, r in mask_to_rle(mask)],
            }
        )
    return pd.DataFrame(rows)
