"""Kernel unit tests, including exact parity with the reference's quirks
(class-0 skips, sequential row-clustering anchor, erode border behavior)."""

import numpy as np
import pytest

from bsc_project_spark.config import ExtractConfig
from bsc_project_spark.kernels import cc
from bsc_project_spark.kernels.bitmorph import open_u8
from bsc_project_spark.kernels.imgproc import (
    adaptive_threshold_gaussian,
    binary_erode_mask,
    find_vertical_line_bounds,
    gaussian_blur3,
    resize_area,
    vline_white_bits,
)
from bsc_project_spark.kernels.ocr import decode_cell, pad_for_ocr
from bsc_project_spark.kernels.postprocess import (
    create_bounding_boxes,
    erode_regions,
    extract_row_col_bboxes,
    remove_small_regions,
    separate_tall_regions,
)

CFG = ExtractConfig(
    min_region_size=50,
    expected_row_height=18,
    row_threshold=40,
    background_class=5,
)


# ---------------------------------------------------------------------------
# imgproc
# ---------------------------------------------------------------------------

def test_blur3_flat_is_identity():
    img = np.full((20, 20), 77, dtype=np.uint8)
    assert np.array_equal(gaussian_blur3(img), img)


def test_adaptive_threshold_ink_vs_background():
    # thin dark stroke on white -> stroke stays ink; uniform areas -> white
    img = np.full((40, 40), 255, dtype=np.uint8)
    img[10:15, 5:35] = 0
    out = adaptive_threshold_gaussian(img, 13, 12)
    assert (out[12, 10:30] == 0).all()          # stroke is ink
    assert (out[30, :] == 255).all()            # far background is white
    # large solid black hollows out (local mean equals the pixel)
    solid = np.zeros((40, 40), dtype=np.uint8)
    out2 = adaptive_threshold_gaussian(solid, 13, 12)
    assert out2[20, 20] == 255


def test_binarize_fused_equals_two_step():
    from bsc_project_spark.kernels.imgproc import binarize_fused

    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, (173, 211), dtype=np.uint8)
    two_step = adaptive_threshold_gaussian(gaussian_blur3(img), 13, 12)
    assert np.array_equal(binarize_fused(img, 13, 12), two_step)
    # small image edge case
    small = rng.integers(0, 256, (9, 7), dtype=np.uint8)
    assert np.array_equal(
        binarize_fused(small, 13, 12),
        adaptive_threshold_gaussian(gaussian_blur3(small), 13, 12),
    )


def test_binarize_fused_tiles_equal_two_step():
    # page-wide images: blank 512-column tiles skip the Gaussian mean,
    # inked ones run it; both must equal the two-step path for any C.
    # The heights sit at the edges of the blurred page's halo
    # (block_size // 2 = 6 rows) and strips: shorter than the halo, one
    # and two halos, one strip and one row past it, two strips; the
    # widths give 32-row strips of many tiles, or one tall strip.
    from bsc_project_spark.kernels.imgproc import binarize_fused

    def strip_rows(w):  # binarize_fused's strip height at width w
        return max(32, (1 << 17) // (4 * (w + 12)))

    rng = np.random.default_rng(29)
    shapes = [(97, 1300), (40, 1024), (70, 513)]
    for w in (1300, 70):
        shapes += [(h, w) for h in (1, 6, 12, 13, 31, 33, strip_rows(w) + 1, 2 * strip_rows(w))]
    for h, w in shapes:
        strip = strip_rows(w)
        img = np.full((h, w), 250, dtype=np.uint8)
        img += rng.integers(0, 6, (h, w), dtype=np.uint8)
        ink = rng.random((h, w)) < 0.01
        ink[:, 520:1000] = False  # whole tiles of background
        img[ink] = rng.integers(0, 160, int(ink.sum()), dtype=np.uint8)
        img[h // 2 : h // 2 + 8, w - 40 :] = 30  # a stroke at the right edge
        # near-flat paper with sparse shallow dips: many pixels sit exactly
        # floor(C) below a window max that rint(mean) reaches
        paper = np.full((h, w), 250, dtype=np.uint8)
        dips = rng.random((h, w)) < 0.05
        paper[dips] -= rng.integers(1, 9, int(dips.sum()), dtype=np.uint8)
        # black pages with white on one side of the first tile edge, kept
        # one column clear of it so that the blur leaves the other tile
        # flat: that tile sees the white only through its column halo
        left, right = np.zeros((2, h, w), dtype=np.uint8)
        left[:, :511] = 255
        right[:, 513:] = 255
        # the same one row clear of the first strip boundary: a strip
        # sees the other band only through its halo rows
        below, above = np.zeros((2, h, w), dtype=np.uint8)
        below[strip + 1 :] = 255
        above[: strip - 1] = 255
        for page in (img, paper, left, right, below, above):
            for c in (12.0, 4.0, 3.0, 2.0, 1.0, 0.0, -5.0, 7.5):
                assert np.array_equal(
                    binarize_fused(page, 13, c),
                    adaptive_threshold_gaussian(gaussian_blur3(page), 13, c),
                ), (h, w, c)


def test_row_window_reduce_matches_row_by_row_op():
    # the log-step row window of the bit-packed morphology against the op
    # taken row by row over the fill-padded rows, for every window size
    # up to past the 50-row vertical-line kernel
    from bsc_project_spark.kernels.bitmorph import _window_reduce

    rng = np.random.default_rng(37)
    for h in (1, 2, 7, 50, 123):
        p = rng.integers(0, 256, (h, 5), dtype=np.uint8)
        for size in range(1, 66):
            r_lo = (size - 1) // 2
            for fill in (False, True):
                ext = np.full((h + size - 1, 5), 0xFF if fill else 0, dtype=np.uint8)
                ext[r_lo : r_lo + h] = p
                rows = np.stack([ext[d : d + h] for d in range(size)])
                for is_and, op in ((True, np.bitwise_and), (False, np.bitwise_or)):
                    assert np.array_equal(
                        _window_reduce(p, size, 0, fill, is_and), op.reduce(rows, axis=0)
                    ), (h, size, fill, is_and)


def test_morph_open_white_foreground_semantics():
    # OPEN on a white-background page (cv2 semantics: white is foreground)
    # fills small WHITE pinholes inside ink and preserves black features —
    # exactly what reference scripts/dataset.py:46-47 does post-threshold.
    img = np.full((30, 30), 255, dtype=np.uint8)
    img[5:7, 5:7] = 0       # black speck: preserved by open
    img[15:25, 15:25] = 0   # black block with a white pinhole inside
    img[19:21, 19:21] = 255
    out = open_u8(img, 5, 5)  # == 3x3 OPEN with iterations=2
    assert (out[5:7, 5:7] == 0).all()
    assert (out[19:21, 19:21] == 0).all()   # pinhole filled
    assert (out[15:25, 15:25] == 0).all()
    assert (out[0:4, 0:4] == 255).all()


def test_morph_close_vertical_keeps_tall_lines_only():
    # vline_white_bits: the 1x50 vertical CLOSE of the left half
    img = np.full((200, 80), 255, dtype=np.uint8)
    img[10:190, 5:8] = 0   # tall line: survives 1x50 vertical close
    img[90:110, 30:33] = 0  # short blob (20 tall): wiped
    white = vline_white_bits(img, ExtractConfig(vline_kernel_h=50))
    black = ~np.unpackbits(white, axis=1, count=40).astype(bool)
    assert black.shape == (200, 40)
    assert black[50:150, 5:8].all()
    assert not black[90:110, 30:33].any()


def test_find_vertical_line_bounds_blank_fallback():
    cfg = ExtractConfig()
    img = np.full((100, 200), 255, dtype=np.uint8)
    assert find_vertical_line_bounds(img, cfg) == (0, 100)


def test_find_vertical_line_bounds_erases_right_border():
    # reference quirk: rb = last_line_col - 5 cuts into the last line itself
    cfg = ExtractConfig()
    img = np.full((200, 400), 255, dtype=np.uint8)
    img[:, 20:23] = 0
    img[:, 150:153] = 0
    lb, rb = find_vertical_line_bounds(img, cfg)
    assert lb == 10            # first col 20 - 10
    assert rb == 152 - 5       # last col 152 - 5 -> erases that border

def test_resize_area_integer_factor_is_block_mean():
    img = np.array([[0, 0, 255, 255], [0, 0, 255, 255]], dtype=np.uint8)
    out = resize_area(img, 2, 1)
    assert out.shape == (1, 2)
    assert out[0, 0] == 0 and out[0, 1] == 255


# ---------------------------------------------------------------------------
# connected components (8-connectivity, raster label order like skimage)
# ---------------------------------------------------------------------------

def test_label_diagonal_is_connected():
    m = np.zeros((4, 4), dtype=bool)
    m[0, 0] = m[1, 1] = m[2, 2] = True
    labels, n = cc.label(m)
    assert n == 1


def test_label_fuzz_vs_bfs():
    def brute_label(mask):
        h, w = mask.shape
        labels = np.zeros((h, w), np.int32)
        nxt = 1
        for y in range(h):
            for x in range(w):
                if mask[y, x] and labels[y, x] == 0:
                    stack = [(y, x)]
                    labels[y, x] = nxt
                    while stack:
                        cy, cx = stack.pop()
                        for dy in (-1, 0, 1):
                            for dx in (-1, 0, 1):
                                ny, nx_ = cy + dy, cx + dx
                                if (
                                    0 <= ny < h and 0 <= nx_ < w
                                    and mask[ny, nx_] and labels[ny, nx_] == 0
                                ):
                                    labels[ny, nx_] = nxt
                                    stack.append((ny, nx_))
                    nxt += 1
        return labels, nxt - 1

    rng = np.random.default_rng(3)
    for _ in range(60):
        h, w = rng.integers(1, 20, 2)
        m = rng.random((h, w)) < rng.uniform(0.1, 0.9)
        a, na = cc.label(m)
        b, nb = brute_label(m)
        assert na == nb
        assert np.array_equal(a, b)


def test_label_separate_components_and_props():
    m = np.zeros((10, 10), dtype=bool)
    m[1:3, 1:3] = True
    m[6:9, 5:9] = True
    labels, n = cc.label(m)
    assert n == 2
    regions = cc.regionprops(labels)
    assert regions[0].bbox == (1, 1, 3, 3) and regions[0].area == 4
    assert regions[1].bbox == (6, 5, 9, 9) and regions[1].area == 12
    assert regions[1].image.shape == (3, 4)


# ---------------------------------------------------------------------------
# post-processing chain parity
# ---------------------------------------------------------------------------

def test_remove_small_skips_class0():
    # identical small blobs in class 0 and class 1: only class 1 is removed
    # (reference scripts/post_process.py:101-102 quirk)
    mask = np.full((40, 40), 5, dtype=np.uint8)
    mask[5:8, 5:8] = 0
    mask[20:23, 20:23] = 1
    out = remove_small_regions(mask, CFG)
    assert (out[5:8, 5:8] == 0).all()
    assert (out[20:23, 20:23] == 5).all()


def test_separate_tall_splits_blobby_region_at_valley():
    # two dense 20-row bands joined by a sparse 4-row waist -> one CC with a
    # profile valley; the split must cut a 7-row background band at the waist
    # (reference scripts/post_process.py:54-90)
    mask = np.full((80, 60), 5, dtype=np.uint8)
    mask[10:30, 10:50] = 1
    mask[33:53, 10:50] = 1
    mask[30:33, 28:32] = 1  # thin bridge -> valley in row profile
    out = separate_tall_regions(mask, CFG)
    labels, n = cc.label(out == 1)
    assert n == 2, "tall blobby region must split into two"
    # a 7-row background band is cut around the waist
    assert all((out[r, 10:28] == 5).all() for r in range(28, 34))


def test_separate_tall_plateau_valley_not_detected():
    # faithful reference quirk: strictly-less local-minimum test misses
    # plateau minima (reference scripts/post_process.py:12-15), so an
    # even-width waist producing a flat smoothed minimum does NOT split
    mask = np.full((80, 60), 5, dtype=np.uint8)
    mask[10:30, 10:50] = 1
    mask[34:54, 10:50] = 1
    mask[30:34, 28:32] = 1  # symmetric 4-row waist -> plateau minimum
    out = separate_tall_regions(mask, CFG)
    labels, n = cc.label(out == 1)
    assert n == 1


def test_separate_tall_skips_solid_flat_profile():
    mask = np.full((80, 60), 5, dtype=np.uint8)
    mask[10:54, 10:50] = 1  # solid tall rect: flat profile, no valley
    out = separate_tall_regions(mask, CFG)
    labels, n = cc.label(out == 1)
    assert n == 1


def test_separate_tall_skips_class0_and_narrow():
    mask = np.full((80, 60), 5, dtype=np.uint8)
    mask[10:30, 10:50] = 0
    mask[34:54, 10:50] = 0
    mask[30:34, 28:32] = 0
    out = separate_tall_regions(mask, CFG)
    labels, n = cc.label(out == 0)
    assert n == 1  # class 0 untouched
    # narrow region (width < 0.5*height) untouched
    mask2 = np.full((80, 60), 5, dtype=np.uint8)
    mask2[5:65, 10:25] = 2  # h=60, w=15 < 30
    out2 = separate_tall_regions(mask2, CFG)
    assert np.array_equal(out2, mask2)


def test_erode_regions_shrinks_one_pixel_all_classes():
    mask = np.full((20, 20), 5, dtype=np.uint8)
    mask[2:8, 2:8] = 0   # class 0 IS eroded (unlike remove/separate)
    mask[10:16, 10:16] = 3
    out = erode_regions(mask, CFG)
    assert (out[3:7, 3:7] == 0).all() and out[2, 2] == 5
    assert (out[11:15, 11:15] == 3).all() and out[10, 10] == 5


def test_create_bounding_boxes_area_threshold():
    cfg = ExtractConfig(expected_row_height=4, background_class=5)
    mask = np.full((30, 30), 5, dtype=np.uint8)
    # L-shaped region, area 39 >= 16 -> bbox-filled
    mask[2:5, 2:12] = 1
    mask[5:8, 2:5] = 1
    # small region, area 4 < 16 -> untouched
    mask[20:22, 20:22] = 2
    out = create_bounding_boxes(mask, cfg)
    assert (out[2:8, 2:12] == 1).all()
    assert (out[20:22, 20:22] == 2).all() and out[22, 22] == 5


def test_extract_row_col_sequential_anchor_semantics():
    # regions at y-centers 10, 45, 80 with threshold 40:
    # sequential-anchor (reference) -> rows 0, 0, 1
    # (a naive lag-based gap rule would give 0, 1, 2 — this test pins the
    # reference semantics of scripts/post_process.py:225-237)
    cfg = ExtractConfig(row_threshold=40, background_class=5)
    mask = np.full((120, 100), 5, dtype=np.uint8)
    mask[5:16, 10:40] = 0     # y_center 10.5
    mask[40:51, 10:40] = 1    # y_center 45.5: |45.5-10.5|=35 <= 40 -> row 0
    mask[75:86, 10:40] = 2    # y_center 80.5: |80.5-10.5|=70 > 40 -> row 1
    boxes = extract_row_col_bboxes(mask, cfg)
    assert [(b[0], b[1]) for b in boxes] == [(0, 0), (0, 1), (1, 2)]


def test_extract_row_col_tie_break_by_class():
    cfg = ExtractConfig(row_threshold=40, background_class=5)
    mask = np.full((60, 100), 5, dtype=np.uint8)
    mask[10:20, 60:80] = 3
    mask[10:20, 10:30] = 1  # same y-center: ordering by (row, col)
    boxes = extract_row_col_bboxes(mask, cfg)
    assert [(b[0], b[1]) for b in boxes] == [(0, 1), (0, 3)]


def test_binary_erode_border_preserved():
    # cv2.erode default borderValue = +inf: the outside acts as foreground,
    # so an all-True mask survives erosion INCLUDING its edge pixels
    # (reference post_process.py:126 keeps boundary-touching regions).
    m = np.ones((5, 5), dtype=bool)
    out = binary_erode_mask(m, 3)
    assert out.all()
    # interior erosion still happens: an isolated blob shrinks by 1 px
    m2 = np.zeros((7, 7), dtype=bool)
    m2[2:5, 2:5] = True
    out2 = binary_erode_mask(m2, 3)
    assert out2[3, 3] and out2.sum() == 1


# ---------------------------------------------------------------------------
# OCR decode
# ---------------------------------------------------------------------------

def test_decode_clean_and_clipped():
    from bsc_project_spark.kernels.font import render_text

    cfg = ExtractConfig(ocr_glyph_scale=5)
    for text in ["1907", "28.12", "50.4N", "-3.5", "0123456789", "NSEW"]:
        img = render_text(text, 5)
        assert decode_cell(img, cfg) == text
        assert decode_cell(img[2:, 2:], cfg) == text  # erode-style clipping


def test_decode_partial_height_dot():
    from bsc_project_spark.kernels.font import render_text

    cfg = ExtractConfig(ocr_glyph_scale=5)
    assert decode_cell(render_text(".", 5), cfg) == "."
    assert decode_cell(render_text("-", 5), cfg) == "-"


def test_decode_autoscale_larger_glyphs():
    from bsc_project_spark.kernels.font import render_text

    cfg = ExtractConfig(ocr_glyph_scale=5)
    assert decode_cell(render_text("1907", 7), cfg) == "1907"


def test_pad_for_ocr_min_size():
    crop = np.full((10, 12), 0, dtype=np.uint8)
    out = pad_for_ocr(crop, 32)
    assert out.shape == (32, 32)
    assert (out[:10, :12] == 0).all() and out[31, 31] == 255


# ---------------------------------------------------------------------------
# deskew (engine extension; off by default — reference has no deskew op)
# ---------------------------------------------------------------------------

def test_estimate_skew_recovers_applied_shear():
    from bsc_project_spark.kernels.imgproc import deskew, estimate_skew

    # synthetic page: three horizontal text lines on white
    img = np.full((200, 300), 255, dtype=np.uint8)
    for y0 in (40, 100, 160):
        img[y0 : y0 + 6, 20:280] = 0
    assert estimate_skew(img) == pytest.approx(0.0, abs=1e-9)
    skewed = deskew(img, 1.2)  # apply a known shear
    est = estimate_skew(skewed, max_angle_deg=2.0, steps=41)
    # estimate returns the content's skew; preprocess applies deskew(-est)
    assert abs(est - 1.2) <= 0.15  # recovered within one scan step


def test_deskew_roundtrip_preserves_interior_ink():
    from bsc_project_spark.kernels.imgproc import deskew

    img = np.full((100, 120), 255, dtype=np.uint8)
    img[45:55, 10:110] = 0
    back = deskew(deskew(img, 1.0), -1.0)
    # interior (away from edge fill) is restored exactly
    assert (back[20:80, :] == img[20:80, :]).all()


def test_deskew_zero_angle_identity():
    from bsc_project_spark.kernels.imgproc import deskew

    img = np.random.default_rng(0).integers(0, 256, (50, 60)).astype(np.uint8)
    assert (deskew(img, 0.0) == img).all()


def test_extract_page_with_deskew_recovers_skewed_page():
    """End-to-end: a sheared page + deskew_enabled extracts the same cells
    as the upright page.  Guards the crop-alignment contract: deskew must
    be applied to the GRAY page before bbox extraction AND cropping — a
    mask-only deskew would leave OCR crops misaligned by tan(a)*x px."""
    import dataclasses

    from bsc_project_spark.fixtures.corpus import FIXTURE_CONFIG, page_spec
    from bsc_project_spark.fixtures.render import GLYPH_SCALE, render_page
    from bsc_project_spark.kernels.golden import extract_page
    from bsc_project_spark.kernels.imgproc import deskew

    spec = page_spec(0)
    upright = render_page(spec)
    expected = extract_page(upright, FIXTURE_CONFIG, GLYPH_SCALE)
    assert expected  # page 0 has cells

    skewed = deskew(upright, 0.9)
    cfg = dataclasses.replace(FIXTURE_CONFIG, deskew_enabled=True, deskew_max_angle=2.0)
    got = extract_page(skewed, cfg, GLYPH_SCALE)
    assert got == expected


def test_open_u8_matches_binary_filter_composition():
    from bsc_project_spark.kernels.bitmorph import binary_filter, open_u8

    rng = np.random.default_rng(11)
    for h, w in [(40, 40), (33, 57), (16, 8), (20, 13)]:
        img = np.where(rng.random((h, w)) < 0.5, np.uint8(255), np.uint8(0))
        white = binary_filter(img > 0, 5, 5, erode=True, border=True)
        white = binary_filter(white, 5, 5, erode=False, border=False)
        expected = np.where(white, np.uint8(255), np.uint8(0))
        assert np.array_equal(open_u8(img, 5, 5), expected), (h, w)


def test_vline_profile_packed_matches_bool_page():
    """The vertical-line profile counted from packed rows equals the
    per-column sum of the two-pass bool CLOSE, over every row block
    boundary (255 rows), trailing-byte width and band row slice."""
    from bsc_project_spark.kernels.bitmorph import binary_filter, column_popcount
    from bsc_project_spark.kernels.imgproc import vline_black_profile

    cfg = ExtractConfig(vline_kernel_h=50)
    rng = np.random.default_rng(23)
    for h in (0, 1, 49, 51, 254, 255, 256, 511, 766):
        for w in (1, 2, 17, 34, 130):
            img = np.where(rng.random((h, w)) < rng.random(), np.uint8(255), np.uint8(0))
            img[:, rng.integers(0, w)] = 0  # a full-height line
            white = binary_filter(img[:, : w // 2] > 0, 50, 1, erode=False, border=False)
            black = ~binary_filter(white, 50, 1, erode=True, border=True)
            for rows in (slice(None), slice(h // 3, 2 * h // 3), slice(0, 0)):
                expected = black[rows].sum(axis=0, dtype=np.int64)
                got = vline_black_profile(img, cfg, rows)
                assert got.dtype == np.int64 and np.array_equal(got, expected), (h, w, rows)
            bits = np.packbits(img, axis=1)
            assert np.array_equal(column_popcount(bits, w), (img > 0).sum(axis=0)), (h, w)


def test_remove_small_fuzz_vs_per_class_reference():
    """The single-pass multi-class implementation must match per-class
    labeling exactly on random multi-class masks."""
    def reference_impl(mask, cfg):
        out = mask.copy()
        for class_idx in range(cfg.n_content_classes):
            class_mask = out == class_idx
            if class_idx == 0 or not class_mask.any():
                continue
            labels, n = cc.label(class_mask)
            if n == 0:
                continue
            areas = np.bincount(labels.ravel(), minlength=n + 1)
            small = np.zeros(n + 1, dtype=bool)
            small[1:] = areas[1:] < cfg.min_region_size
            out[small[labels]] = cfg.background_class
        return out

    cfg = ExtractConfig(min_region_size=6, background_class=5, n_content_classes=5)
    rng = np.random.default_rng(19)
    for _ in range(40):
        h, w = rng.integers(3, 40, 2)
        # blocky masks: classes 0-5 with spatial structure
        mask = rng.integers(0, 6, (max(1, h // 4), max(1, w // 4))).astype(np.uint8)
        mask = np.repeat(np.repeat(mask, 4, axis=0), 4, axis=1)[:h, :w]
        # salt with random pixels to create small fragments
        salt = rng.random(mask.shape) < 0.1
        mask[salt] = rng.integers(0, 6, int(salt.sum()))
        got = remove_small_regions(mask.copy(), cfg)
        want = reference_impl(mask.copy(), cfg)
        assert np.array_equal(got, want)


def test_multiclass_regions_fuzz_vs_per_class_label():
    """multiclass_regions == per-class cc.label + regionprops bboxes and
    areas on seeded random multiclass masks, including same-class runs that
    wrap from column w-1 to column 0 of the next row (not 8-connected),
    1-row and 1-column masks, and an all-background mask."""
    def reference(mask, lo, hi):
        out = {}
        for c in range(lo, hi):
            labels, _ = cc.label(mask == c)
            out[c] = sorted((*r.bbox, r.area) for r in cc.regionprops(labels))
        return out

    rng = np.random.default_rng(31)
    masks = []
    for i in range(60):
        h, w = (int(v) for v in rng.integers(1, 36, 2))
        if i % 3 == 0:  # 1-row / 1-column masks
            h, w = (1, w) if i % 2 else (h, 1)
        blocky = rng.integers(0, 6, (h // 3 + 1, w // 3 + 1)).astype(np.uint8)
        mask = np.repeat(np.repeat(blocky, 3, axis=0), 3, axis=1)[:h, :w]
        salt = rng.random(mask.shape) < 0.15
        mask[salt] = rng.integers(0, 6, int(salt.sum()))
        if h > 1 and w > 2:
            # every row starts with the class the previous row ends with
            mask[1:, 0] = mask[:-1, -1]
            mask[1:, 1] = 5
        masks.append(mask)
    wrap = np.full((3, 10), 5, dtype=np.uint8)
    wrap[0, 6:] = 2   # run ends at column w-1 ...
    wrap[1, :3] = 2   # ... and the next row's run starts at column 0
    masks.append(wrap)
    masks.append(np.full((7, 9), 5, dtype=np.uint8))  # all background

    for mask in masks:
        for lo, hi in ((0, 5), (1, 5)):
            got = cc.multiclass_regions(mask, lo, hi)
            assert {c: sorted(v) for c, v in got.items()} == reference(mask, lo, hi)
    assert sorted(cc.multiclass_regions(wrap, 2, 3)[2]) == [
        (0, 6, 1, 10, 4),
        (1, 0, 2, 3, 3),
    ]
    assert cc.multiclass_regions(masks[-1], 0, 5) == {c: [] for c in range(5)}


def test_decode_vectorized_matches_sequential_reference():
    """_decode_at_scale (segment- and offset-batched) == _decode_at_scale_ref
    (loops) on fixture crops at scales 1-6, clipped crops, crops cut
    through a glyph at every edge, '.'-only and other partial-height
    cells, mixed full/partial-height segments, empty crops and
    random-noise crops."""
    import numpy as np

    from bsc_project_spark.fixtures.corpus import FIXTURE_CONFIG as fcfg
    from bsc_project_spark.kernels import ocr
    from bsc_project_spark.kernels.font import render_text

    def both(crop, scale):
        ink = crop < fcfg.ocr_ink_threshold
        rows = np.where(ink.any(axis=1))[0]
        top = int(rows[0]) if rows.size else 0
        height = int(rows[-1]) - top + 1 if rows.size else 0
        integ = ocr._integral(ink)
        return (
            ocr._decode_at_scale(ink, scale, top, height, integ),
            ocr._decode_at_scale_ref(ink, scale, top, height, integ),
        )

    texts = ["1907", "28.12", "50.4N", "-3.5", ".", "..", "-", "-.", ". -", "1",
             "NSEW", "0123456789"]
    for text in texts:
        for render_scale in range(1, 7):
            img = render_text(text, render_scale)
            h, w = img.shape
            k = max(1, render_scale // 2)
            crops = {
                "whole": img,
                "clipped": img[2:, 1:],  # erode-style clipping
                # cut through the first / last glyph and the ink rows
                "left": img[:, k:], "right": img[:, : w - k],
                "top": img[k:], "bottom": img[: h - k],
                # the partial-height rows alone ('.' and '-' bands)
                "low": img[h - 2 * render_scale :],
                "mid": img[3 * render_scale : 4 * render_scale],
            }
            for name, crop in crops.items():
                for scale in {render_scale, max(1, render_scale - 1), render_scale + 1}:
                    got, want = both(crop, scale)
                    assert got == want, (text, render_scale, name, scale)

    for shape in [(1, 1), (7, 5), (32, 40)]:
        empty = np.full(shape, 255, dtype=np.uint8)
        for scale in range(1, 7):
            assert both(empty, scale) == (("", 0), ("", 0))

    rng = np.random.default_rng(23)
    for _ in range(20):
        h, w = rng.integers(10, 60, 2)
        noise = rng.integers(0, 256, (h, w)).astype(np.uint8)
        for scale in (1, 3, 5):
            got, want = both(noise, scale)
            assert got == want


def test_resize_area_general_path_matches_bruteforce():
    """Non-integer-factor resize (the giant-page stitch path): the
    vectorized separable cumsum implementation must match the direct
    fractional-area average (the pre-optimization semantics) exactly."""
    import numpy as np

    rng = np.random.RandomState(3)
    for (h, w, th, tw) in [(37, 53, 12, 17), (64, 48, 48, 31), (21, 19, 5, 7)]:
        img = (rng.rand(h, w) * 255).astype(np.uint8)
        got = resize_area(img, tw, th)

        ys = np.linspace(0, h, th + 1)
        xs = np.linspace(0, w, tw + 1)
        want = np.empty((th, tw), dtype=np.float64)
        imgf = img.astype(np.float64)
        for j in range(th):
            for i in range(tw):
                y0, y1, x0, x1 = ys[j], ys[j + 1], xs[i], xs[i + 1]
                # fractional-area weights per source pixel
                yy = np.clip(np.minimum(np.arange(1, h + 1), y1)
                             - np.maximum(np.arange(0, h), y0), 0, 1)
                xx = np.clip(np.minimum(np.arange(1, w + 1), x1)
                             - np.maximum(np.arange(0, w), x0), 0, 1)
                s = yy @ imgf @ xx
                want[j, i] = s / ((y1 - y0) * (x1 - x0))
        wq = np.rint(want).clip(0, 255).astype(np.uint8)
        diff = np.abs(got.astype(int) - wq.astype(int))
        # exact-.5 averages may round either way depending on float
        # accumulation order (1-ulp ties); everywhere else: bit-equal
        tie = np.abs(want - np.floor(want) - 0.5) < 1e-6
        assert diff[~tie].max(initial=0) == 0
        assert diff.max(initial=0) <= 1
