# -*- coding: utf-8 -*-
"""The media helpers left in ``operators/multimodal.py``: PPM header
parse and nearest-neighbor resize, on self-generated payloads with
independently predictable headers."""

import numpy as np

from rdf_converter_spark.operators.multimodal import (
    parse_ppm_header,
    resize_nearest,
)


def _arr(h, w, seed=3):
    rng = np.random.RandomState(seed)
    return rng.randint(0, 256, size=(h, w, 3), dtype=np.uint8)


def test_ppm_p5_gray_header():
    hdr = parse_ppm_header(b"P5 10 6 255 " + b"\x00" * 60)
    assert (hdr["width"], hdr["height"], hdr["channels"]) == (10, 6, 1)


def test_resize_nearest_identity_and_downscale():
    a = _arr(8, 8)
    np.testing.assert_array_equal(resize_nearest(a, 8, 8), a)
    small = resize_nearest(a, 4, 2)
    assert small.shape == (2, 4, 3)
    # nearest-neighbor: every output pixel is some input pixel
    np.testing.assert_array_equal(small[0, 0], a[0, 0])
