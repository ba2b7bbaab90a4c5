"""Property-based tests (hypothesis) for the pure-numpy kernels.

Complements the example-based and fuzz tests with shrinkable generated
cases: codec roundtrips, filter/idempotence laws, and equivalence of the
optimized implementations to their simple reference forms.
"""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st
from hypothesis.extra.numpy import arrays


small_masks = arrays(
    np.uint8,
    st.tuples(st.integers(1, 24), st.integers(1, 24)),
    elements=st.integers(0, 5),
)

small_grays = arrays(
    np.uint8,
    st.tuples(st.integers(1, 32), st.integers(1, 32)),
    elements=st.integers(0, 255),
)


@settings(max_examples=60, deadline=None)
@given(small_masks)
def test_rle_roundtrip(mask):
    from bsc_project_spark.kernels.rle import mask_to_rle, rle_to_mask

    h, w = mask.shape
    assert (rle_to_mask(mask_to_rle(mask), h, w) == mask).all()


@settings(max_examples=40, deadline=None)
@given(small_grays)
def test_binarize_fused_always_equals_two_step(img):
    from bsc_project_spark.kernels.imgproc import (
        adaptive_threshold_gaussian,
        binarize_fused,
        gaussian_blur3,
    )

    assert np.array_equal(
        binarize_fused(img, 13, 12),
        adaptive_threshold_gaussian(gaussian_blur3(img), 13, 12),
    )


@settings(max_examples=40, deadline=None)
@given(small_grays, st.integers(1, 4), st.integers(1, 4))
def test_resize_integer_factor_is_block_mean(img, fy, fx):
    from bsc_project_spark.kernels.imgproc import resize_area

    h, w = img.shape
    h, w = (h // fy) * fy, (w // fx) * fx
    if h == 0 or w == 0:
        return
    img = img[:h, :w]
    got = resize_area(img, w // fx, h // fy)
    want = np.rint(
        img.reshape(h // fy, fy, w // fx, fx).astype(np.float64).mean(axis=(1, 3))
    ).astype(np.uint8)
    assert np.array_equal(got, want)


@settings(max_examples=30, deadline=None)
@given(small_masks)
def test_open_u8_idempotent(mask):
    """OPEN is idempotent: open(open(x)) == open(x) (morphology law)."""
    from bsc_project_spark.kernels.bitmorph import open_u8

    img = np.where(mask > 2, np.uint8(255), np.uint8(0))
    once = open_u8(img, 3, 3)
    assert np.array_equal(open_u8(once, 3, 3), once)


@settings(max_examples=40, deadline=None)
@given(small_masks)
def test_multiclass_regions_match_per_class_label(mask):
    from bsc_project_spark.kernels import cc

    comps = cc.multiclass_regions(mask, 0, 5)
    for c in range(5):
        labels, n = cc.label(mask == c)
        want = sorted(
            (r.bbox[0], r.bbox[1], r.bbox[2], r.bbox[3], r.area)
            for r in cc.regionprops(labels)
        )
        assert sorted(comps[c]) == want


@settings(max_examples=30, deadline=None)
@given(small_masks.filter(lambda m: m.shape[0] > 2 and m.shape[1] > 2))
def test_deskew_roundtrip_interior(mask):
    from bsc_project_spark.kernels.imgproc import deskew

    img = np.where(mask > 2, np.uint8(255), np.uint8(0))
    h = img.shape[0]
    margin = max(1, int(np.tan(np.deg2rad(1.5)) * img.shape[1]) + 1)
    if 2 * margin >= h:
        return
    back = deskew(deskew(img, 1.5), -1.5)
    assert (back[margin : h - margin, :] == img[margin : h - margin, :]).all()


# ---------------------------------------------------------------------------
# LSH banding invariants (queries/similarity.py, pure-numpy halves)
# ---------------------------------------------------------------------------

vectors = arrays(
    np.float64,
    st.integers(2, 96),
    elements=st.floats(-10, 10, allow_nan=False, width=64),
)


@settings(max_examples=60, deadline=None)
@given(vectors, st.floats(0.1, 100.0))
def test_lsh_bits_scale_invariant(v, c):
    """sign(dot(cv, s)) == sign(dot(v, s)) for c > 0: LSH buckets depend on
    direction only, so rescaled duplicates land in the same bucket.  Only
    claimed away from the sign boundary — a projection within float-
    cancellation distance of 0 can legitimately flip under rescaling."""
    import pandas as pd

    from bsc_project_spark.queries.similarity import _lsh_bits_fn, _sign_matrix
    from hypothesis import assume

    margins = np.abs(np.asarray(v) @ _sign_matrix(len(v)))
    assume(margins.min() > 1e-6 * (np.abs(v).sum() + 1.0))
    bits = _lsh_bits_fn(pd.Series([v, c * v]))
    assert bits[0] == bits[1]


@settings(max_examples=30, deadline=None)
@given(st.integers(1, 128))
def test_sign_matrix_matches_sql_formula(dim):
    from bsc_project_spark.queries.similarity import _N_PLANES, _sign_matrix

    m = _sign_matrix(dim)
    assert m.shape == (dim, _N_PLANES)
    for i in (1, dim):  # 1-based dimension index, spot-check both ends
        for j in (0, _N_PLANES - 1):
            expect = 1.0 if ((i * 2654435761 + j * 40503) % 97) % 2 == 0 else -1.0
            assert m[i - 1, j] == expect


@settings(max_examples=40, deadline=None)
@given(st.lists(vectors, min_size=1, max_size=6))
def test_lsh_bits_batch_equals_per_row(vs):
    """Batched (possibly ragged-dim) evaluation must equal row-at-a-time —
    away from exactly-zero projections, where BLAS summation order for
    different matrix shapes may round a mathematical 0 to either side
    (generic embeddings never sit on that measure-zero boundary)."""
    import pandas as pd

    from bsc_project_spark.queries.similarity import _lsh_bits_fn, _sign_matrix
    from hypothesis import assume

    for v in vs:
        margins = np.abs(np.asarray(v) @ _sign_matrix(len(v)))
        assume(margins.min() > 1e-6 * (np.abs(v).sum() + 1.0))
    batched = list(_lsh_bits_fn(pd.Series(vs)))
    single = [_lsh_bits_fn(pd.Series([v]))[0] for v in vs]
    assert batched == single


@settings(max_examples=30, deadline=None)
@given(st.integers(0, 63), st.integers(0, 1))
def test_phash_lut_matches_fresh_kernel_run(pattern_id, variant):
    """The registration-time pHash LUT must be a pure function: any entry
    recomputed from scratch (render -> DCT -> median threshold -> pack)
    equals the cached value."""
    from bsc_project_spark.queries.visual import (
        _phash_lut,
        _phash_of_image,
        synth_page_image,
    )

    lut = {(p, v): h for p, v, h in _phash_lut()}
    assert lut[(pattern_id, variant)] == _phash_of_image(
        synth_page_image(pattern_id, variant)
    )
