# -*- coding: utf-8 -*-
"""Media helpers left from the deleted media toolkit: a netpbm (PPM)
header parser and a numpy nearest-neighbor resize. No KG entry point
imports this module; it is one of the ``DEFERRED`` entries of
``tests/test_package_reach.py`` and goes with the rest of them.
"""

from __future__ import annotations


def parse_ppm_header(data: bytes):
    """P6 (binary RGB) / P5 (binary gray) netpbm header: ASCII tokens
    with '#' comments, then raw samples."""
    if data[:2] not in (b"P6", b"P5"):
        return None
    toks, i, n = [], 2, len(data)
    while len(toks) < 3 and i < n:
        c = data[i:i + 1]
        if c == b"#":  # comment to end of line
            while i < n and data[i:i + 1] != b"\n":
                i += 1
        elif c.isspace():
            i += 1
        else:
            j = i
            while j < n and not data[j:j + 1].isspace():
                j += 1
            toks.append(data[i:j])
            i = j
    if len(toks) < 3:
        return None
    try:
        w, h, _maxval = (int(t) for t in toks)
    except ValueError:
        return None
    return {
        "format": "ppm", "width": w, "height": h,
        "channels": 3 if data[:2] == b"P6" else 1,
        "sample_rate": None, "duration_ms": None,
        "_data_offset": i + 1,
    }


def resize_nearest(arr, width: int, height: int):
    """Nearest-neighbor resize of an (h, w, 3) array via numpy index
    grids — one vectorized gather, no imaging library."""
    import numpy as np

    h, w = arr.shape[:2]
    ys = (np.arange(height) * h) // height
    xs = (np.arange(width) * w) // width
    return arr[ys[:, None], xs[None, :]]
