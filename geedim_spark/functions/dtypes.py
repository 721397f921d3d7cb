"""Pixel nodata + saturating dtype casts — reference semantics from
/root/reference/geedim/image.py:55-73 (nodata table, no int64) and
image.py:571-596 (toUint8...toDouble).
"""

from __future__ import annotations

import numpy as np

from geedim_spark.codecs import NODATA_VALS


def nodata_for(dtype: str):
    return NODATA_VALS[dtype]


def cast_pixels(pixels: np.ndarray, dtype: str) -> np.ndarray:
    """toUint8...toDouble dispatch analog (image.py:571-596): clip to the
    target range then cast (EE semantics saturate rather than wrap).
    Non-finite inputs (NaN marks all-masked composite pixels) become the
    target dtype's nodata — np.clip passes NaN through and NaN.astype(int)
    is undefined (platform-dependent garbage)."""
    if dtype not in NODATA_VALS:
        # the reference's toDType raises on int64/uint64 etc.
        # (test_image.py:254-258 'Unsupported dtype'; image.py:66-73 has no
        # nodata for them) — silently casting here would produce a table
        # whose nodata convention no downstream kernel understands
        raise ValueError(
            f"Unsupported dtype: {dtype!r} (supported: "
            f"{sorted(NODATA_VALS)})"
        )
    dt = np.dtype(dtype)
    if dt.kind in "ui":
        px = pixels
        if np.issubdtype(np.asarray(pixels).dtype, np.floating):
            px = np.where(np.isfinite(pixels), pixels, nodata_for(dtype))
        info = np.iinfo(dt)
        return np.clip(px, info.min, info.max).astype(dt)
    return pixels.astype(dt)
