"""Bit-identity pin for the page kernels.

sha256 digests of ``preprocess``, ``segment_page``, ``post_process_mask``
and the extracted cells over the 16 ``page_spec`` archetypes (every special
page type).  The digests were recorded before the linear-time run
extraction and the tile-skipping binarization landed; any kernel change
that alters a single output byte fails here, so speedups stay exact.
"""

from __future__ import annotations

import hashlib

import numpy as np

from bsc_project_spark.fixtures.corpus import FIXTURE_CONFIG, GLYPH_SCALE, page_spec
from bsc_project_spark.fixtures.render import render_page
from bsc_project_spark.kernels.golden import extract_page
from bsc_project_spark.kernels.imgproc import preprocess
from bsc_project_spark.kernels.postprocess import post_process_mask
from bsc_project_spark.kernels.segment import segment_page

DIGESTS = {
    "preprocess": "d96370b490ed3d2afada57af5c7c4c087553f1eab45e48277021c3034ef402ec",
    "segment_page": "c1c32bb717202672e0be13a4f9d87810b6446fdcc372aed67b06d7a35819d274",
    "post_process_mask": "6238dc1ae2477ec8792efd01ac674cd38f30ca35d8baf3af7128694d0dd2f0e1",
    "cells": "616b685c961706b23f8fed87586bac12c6a2639dac648d7dce3fb819274dc9bf",
}


def _feed(h, a: np.ndarray) -> None:
    h.update(f"{a.dtype.str}{a.shape}".encode())
    h.update(np.ascontiguousarray(a).tobytes())


def test_kernel_outputs_match_pinned_digests():
    cfg = FIXTURE_CONFIG
    hs = {name: hashlib.sha256() for name in DIGESTS}
    for idx in range(16):
        gray = render_page(page_spec(idx))
        binary = preprocess(gray, cfg)
        _feed(hs["preprocess"], binary)
        mask = segment_page(binary, cfg)
        _feed(hs["segment_page"], mask)
        _feed(hs["post_process_mask"], post_process_mask(mask, cfg))
        hs["cells"].update(repr(extract_page(gray, cfg, GLYPH_SCALE)).encode())
    assert {name: h.hexdigest() for name, h in hs.items()} == DIGESTS
