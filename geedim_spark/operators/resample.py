"""Resampling kernels (W4): bilinear / bicubic / average.

Reference semantics (/root/reference/geedim/image.py:530-569): ``resample``
applies bilinear/bicubic interpolation, ``average`` is a mean
reduceResolution for downsampling; images without a fixed projection
(composites) pass through unaltered — the caller branches, mirroring the
``If(fixed(), resampled, orig)`` rule.

Pure numpy, separable kernels, deterministic.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from geedim_spark import codecs
from geedim_spark.kernels import map_rows


def _lin_weights(src_n: int, dst_n: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Source indices + fractional weights for 1D linear interpolation
    (pixel-centre convention)."""
    pos = (np.arange(dst_n) + 0.5) * (src_n / dst_n) - 0.5
    lo = np.clip(np.floor(pos).astype(int), 0, src_n - 1)
    hi = np.clip(lo + 1, 0, src_n - 1)
    t = np.clip(pos - lo, 0.0, 1.0)
    return lo, hi, t


def resample_bilinear(px: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    bands, h, w = px.shape
    ry0, ry1, ty = _lin_weights(h, out_h)
    rx0, rx1, tx = _lin_weights(w, out_w)
    a = px.astype(np.float64)
    rows = a[:, ry0, :] * (1 - ty)[None, :, None] + a[:, ry1, :] * ty[None, :, None]
    out = rows[:, :, rx0] * (1 - tx)[None, None, :] + rows[:, :, rx1] * tx[None, None, :]
    return out


def _cubic_kernel(t: np.ndarray, a: float = -0.5) -> np.ndarray:
    """Keys bicubic kernel (the standard a=-0.5 convolution)."""
    t = np.abs(t)
    out = np.zeros_like(t)
    m1 = t <= 1
    m2 = (t > 1) & (t < 2)
    out[m1] = (a + 2) * t[m1] ** 3 - (a + 3) * t[m1] ** 2 + 1
    out[m2] = a * t[m2] ** 3 - 5 * a * t[m2] ** 2 + 8 * a * t[m2] - 4 * a
    return out


def resample_bicubic(px: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    bands, h, w = px.shape
    a = px.astype(np.float64)

    def _axis(arr, src_n, dst_n, axis):
        pos = (np.arange(dst_n) + 0.5) * (src_n / dst_n) - 0.5
        base = np.floor(pos).astype(int)
        out = np.zeros(arr.shape[:axis] + (dst_n,) + arr.shape[axis + 1:])
        wsum = np.zeros(dst_n)
        for k in range(-1, 3):
            idx = np.clip(base + k, 0, src_n - 1)
            wk = _cubic_kernel(pos - (base + k))
            wsum += wk
            sl = np.take(arr, idx, axis=axis)
            shape = [1] * arr.ndim
            shape[axis] = dst_n
            out += sl * wk.reshape(shape)
        shape = [1] * arr.ndim
        shape[axis] = dst_n
        return out / wsum.reshape(shape)

    return _axis(_axis(a, h, out_h, 1), w, out_w, 2)


def resample_average(px: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """Block-mean downsample (reduceResolution('mean') analog); requires
    integer decimation factors."""
    bands, h, w = px.shape
    fy, fx = h // out_h, w // out_w
    if fy * out_h != h or fx * out_w != w:
        raise ValueError("average resampling needs integer decimation factors")
    return (
        px.astype(np.float64)
        .reshape(bands, out_h, fy, out_w, fx)
        .mean(axis=(2, 4))
    )


_METHODS = {
    "bilinear": resample_bilinear,
    "bicubic": resample_bicubic,
    "average": resample_average,
}

_VALID_EPS = 1e-9


def _validity(px: np.ndarray, nodata) -> np.ndarray:
    valid = px != nodata
    if np.issubdtype(px.dtype, np.floating):
        valid &= ~np.isnan(px)
    return valid


def resample(
    px: np.ndarray, out_h: int, out_w: int, method: str, nodata=None
) -> np.ndarray:
    """Resample ``px`` ((bands, h, w)) to (out_h, out_w), float64 output.

    ``nodata`` (opt-in) makes the kernels MASK-AWARE via normalised
    convolution: the value and the per-band validity mask are resampled
    with the same separable kernel and the output is their ratio, so
    nodata pixels never contribute (EE-masked pixels never blend into
    valid neighbours — no dark halos at mask edges) and output positions
    with no valid support become ``nodata`` again.  ``None`` (default)
    keeps the raw kernels: all pixels are treated as data, matching the
    value-checked oracle closed forms."""
    if method not in _METHODS:
        raise ValueError(f"unknown resampling method {method!r} "
                         f"(supported: {sorted(_METHODS)})")
    fn = _METHODS[method]
    if nodata is None:
        return fn(px, out_h, out_w)
    valid = _validity(px, nodata)
    num = fn(np.where(valid, px.astype(np.float64), 0.0), out_h, out_w)
    den = fn(valid.astype(np.float64), out_h, out_w)
    ok = np.abs(den) > _VALID_EPS
    out = np.full(num.shape, float(nodata), np.float64)
    np.divide(num, den, out=out, where=ok)
    return out


def resample_images(
    images: DataFrame, out_h: int, out_w: int, method: str = "bilinear",
    nodata=None,
) -> DataFrame:
    """Spark op: re-encode every image resampled to (out_h, out_w) float64.

    Composites (rows with ``fixed = false`` column, if present) pass through
    unaltered per image.py:559-561.  ``nodata`` opts into mask-aware
    resampling (see :func:`resample`) — pass
    ``codecs.NODATA_VALS[dtype]`` when chaining after ``mask_clouds`` so
    masked pixels neither bleed into valid neighbours nor get resurrected.
    """
    has_fixed = "fixed" in images.columns

    def _row(image_id, buf, fixed=True):
        buf = bytes(buf)
        # pass through only on an EXPLICIT False (composites); a null
        # flag resamples — None and NaN previously took different paths
        if not pd.isna(fixed) and not fixed:
            yield image_id, buf
            return
        px = codecs.decode(buf)
        res = resample(px, out_h, out_w, method, nodata=nodata)
        yield image_id, codecs.encode_raw(np.ascontiguousarray(res))

    cols = ["image_id", "bytes"] + (["fixed"] if has_fixed else [])
    return map_rows(images, cols, "image_id string, bytes binary", _row)
