"""Export-grid reprojection — the reference ``prepareForExport`` spatial
parameters (reference image.py:741-862).

The reference accepts a target ``crs``, an explicit affine
``crs_transform`` + ``shape``, a ``region`` + ``scale``/``shape`` pair, or
a template (``like``) image, validates them (image.py:804-818: a
composite without a fixed projection needs a fully-specified grid; scale
and shape are mutually exclusive) and reprojects/resamples the pixels
onto that grid — with the grid-preservation rule of image.py:820-833:
when no scaling parameter is supplied and the CRS is unchanged, the
source pixel grid is MAINTAINED (the output transform keeps the source
scale and sits at an integer pixel offset, and pixels are bit-identical
— a pure crop/pad, no interpolation).

Spark-first shape: one Arrow-batched ``kernels.map_rows`` pass — per-image
work only, no shuffle, embarrassingly parallel at any scale (each task
regrids its own images; for rasters too large for one task the tiled
stencil path in ``operators/stencil.py`` is the scale escape hatch).
Grid math is driver-validated once and resolved per image inside the
kernel, because source-dependent defaults (scale, CRS, footprint) differ
per row.

CRS support: the synthetic world is planar metres ``EPSG:3857`` with the
geographic twin ``EPSG:4326``; conversion is the standard spherical
Mercator pair (public formulas, R=6378137) — enough to exercise true
cross-CRS warps.  Other CRS strings raise.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame

from geedim_spark import codecs
from geedim_spark.functions.dtypes import cast_pixels
from geedim_spark.kernels import map_rows

_R = 6378137.0  # spherical Mercator radius (EPSG:3857 definition)

_SUPPORTED_CRS = ("EPSG:3857", "EPSG:4326")

# reference image.py:806-817 error, verbatim semantics
_FIXED_PROJ_ERR = (
    "The image does not have a fixed projection, you need to provide "
    "'crs', 'region' & 'scale' / 'shape'; or 'crs', 'crs_transform' & "
    "'shape'."
)


def merc_forward(lon: np.ndarray, lat: np.ndarray):
    """EPSG:4326 -> EPSG:3857 (spherical Mercator)."""
    x = _R * np.radians(lon)
    y = _R * np.log(np.tan(np.pi / 4.0 + np.radians(lat) / 2.0))
    return x, y


def merc_inverse(x: np.ndarray, y: np.ndarray):
    """EPSG:3857 -> EPSG:4326."""
    lon = np.degrees(x / _R)
    lat = np.degrees(2.0 * np.arctan(np.exp(y / _R)) - np.pi / 2.0)
    return lon, lat


def _check_crs(crs: str) -> str:
    if crs not in _SUPPORTED_CRS:
        raise ValueError(
            f"unsupported crs {crs!r} (supported: {_SUPPORTED_CRS})"
        )
    return crs


def _transform_points(xs, ys, src_crs: str, dst_crs: str):
    """Coordinate arrays from ``src_crs`` to ``dst_crs``."""
    if src_crs == dst_crs:
        return xs, ys
    if (src_crs, dst_crs) == ("EPSG:4326", "EPSG:3857"):
        return merc_forward(xs, ys)
    if (src_crs, dst_crs) == ("EPSG:3857", "EPSG:4326"):
        return merc_inverse(xs, ys)
    raise ValueError(f"no transform {src_crs} -> {dst_crs}")


@dataclass(frozen=True)
class GridSpec:
    """A resolved export grid: CRS + affine transform + (h, w) shape.
    ``preserved`` marks the image.py:820-833 grid-maintenance path
    (integer-offset crop/pad, bit-identical pixels)."""

    crs: str
    transform: tuple  # (xscale, 0, x0, 0, -yscale, y1) row-major 6-tuple
    shape: tuple      # (h, w)
    preserved: bool = False


def validate_export_args(
    has_fixed_projection: bool,
    crs=None,
    crs_transform=None,
    shape=None,
    region=None,
    scale=None,
) -> None:
    """Driver-side argument validation, exactly image.py:804-818:

    - an image with NO fixed projection (a composite) must get a fully
      specified grid: (crs, region, scale|shape) or
      (crs, crs_transform, shape);
    - ``scale`` and ``shape`` are mutually exclusive.
    """
    if (
        (not crs or not region or not (scale or shape))
        and (not crs or not crs_transform or not shape)
        and not has_fixed_projection
    ):
        raise ValueError(_FIXED_PROJ_ERR)
    if scale and shape:
        raise ValueError(
            "You can provide one of 'scale' or 'shape', but not both."
        )
    if crs is not None:
        _check_crs(crs)
    if crs_transform is not None:
        t = tuple(float(v) for v in crs_transform)[:6]
        if len(t) != 6:
            raise ValueError("crs_transform needs 6 numbers")
        if t[1] != 0.0 or t[3] != 0.0:
            raise ValueError("sheared crs_transform not supported")
        if t[0] <= 0.0 or t[4] >= 0.0:
            raise ValueError(
                "crs_transform needs positive x-scale and negative y-scale"
            )
        if shape is None:
            raise ValueError("'crs_transform' requires 'shape'")


def grid_from_like(like_row) -> tuple:
    """(crs, crs_transform, shape) from a template image row — the CLI
    ``--like`` semantics (reference cli.py:157, 'georeferenced image file
    defining --crs, --crs-transform & --shape')."""
    return (
        like_row["crs"],
        tuple(float(v) for v in like_row["transform"]),
        (int(like_row["h"]), int(like_row["w"])),
    )


def resolve_grid(
    src_crs: str,
    src_transform,
    src_shape,
    crs=None,
    crs_transform=None,
    shape=None,
    region=None,
    scale=None,
) -> GridSpec:
    """Resolve the target grid for ONE image (the per-image half of
    image.py:820-833).

    Priority: explicit (crs_transform, shape) > (region, scale|shape) >
    source grid.  Grid preservation applies when neither crs_transform,
    shape nor scale is supplied and the CRS is unchanged: the output
    keeps the source scale and snaps the region to the SOURCE pixel
    grid (integer pixel offset — the test_image.py:407-413 property).
    """
    st = tuple(float(v) for v in src_transform)
    sx, x0, sy, y1 = st[0], st[2], -st[4], st[5]
    src_h, src_w = src_shape
    tcrs = crs or src_crs

    if crs_transform is not None:
        t = tuple(float(v) for v in crs_transform)[:6]
        return GridSpec(tcrs, t, (int(shape[0]), int(shape[1])))

    # region defaults to the image footprint, expressed in the TARGET crs
    if region is None:
        if tcrs != src_crs:
            # footprint corners through the CRS transform (axis-aligned
            # bbox of the warped footprint)
            cx = np.array([x0, x0 + sx * src_w, x0, x0 + sx * src_w])
            cy = np.array([y1, y1, y1 - sy * src_h, y1 - sy * src_h])
            tx, ty = _transform_points(cx, cy, src_crs, tcrs)
            region = (tx.min(), ty.min(), tx.max(), ty.max())
        else:
            region = (x0, y1 - sy * src_h, x0 + sx * src_w, y1)
    rx0, ry0, rx1, ry1 = (float(v) for v in region)

    preserve = (
        crs_transform is None and shape is None and scale is None
        and tcrs == src_crs
    )
    if preserve:
        # snap region OUT to source pixel edges: integer pixel offset,
        # source scale kept -> crop/pad path, bit-identical pixels
        col0 = math.floor((rx0 - x0) / sx)
        col1 = math.ceil((rx1 - x0) / sx)
        row0 = math.floor((y1 - ry1) / sy)
        row1 = math.ceil((y1 - ry0) / sy)
        t = (sx, 0.0, x0 + col0 * sx, 0.0, -sy, y1 - row0 * sy)
        return GridSpec(tcrs, t, (row1 - row0, col1 - col0), preserved=True)

    if shape is not None:
        out_h, out_w = int(shape[0]), int(shape[1])
        tsx = (rx1 - rx0) / out_w
        tsy = (ry1 - ry0) / out_h
    else:
        if scale is None:
            # changing CRS without a scale: nominal scale carried over
            # 1:1 is wrong across units (m vs deg) — require it
            raise ValueError(
                "a target 'scale' (or 'shape'/'crs_transform') is "
                "required when changing CRS"
            )
        tsx = tsy = float(scale)
        out_w = max(1, math.ceil((rx1 - rx0) / tsx))
        out_h = max(1, math.ceil((ry1 - ry0) / tsy))
    t = (tsx, 0.0, rx0, 0.0, -tsy, ry1)
    return GridSpec(tcrs, t, (out_h, out_w))


def _sample_nearest(px: np.ndarray, rows: np.ndarray, cols: np.ndarray,
                    nodata) -> np.ndarray:
    h, w = px.shape[1], px.shape[2]
    ri = np.floor(rows + 0.5).astype(np.int64)
    ci = np.floor(cols + 0.5).astype(np.int64)
    oob = (ri < 0) | (ri >= h) | (ci < 0) | (ci >= w)
    ri = np.clip(ri, 0, h - 1)
    ci = np.clip(ci, 0, w - 1)
    out = px[:, ri, ci].astype(np.float64)
    out[:, oob] = nodata
    return out


def _sample_bilinear(px: np.ndarray, rows: np.ndarray, cols: np.ndarray,
                     nodata) -> np.ndarray:
    h, w = px.shape[1], px.shape[2]
    r0 = np.floor(rows).astype(np.int64)
    c0 = np.floor(cols).astype(np.int64)
    tr = rows - r0
    tc = cols - c0
    oob = (rows < -0.5) | (rows > h - 0.5) | (cols < -0.5) | (cols > w - 0.5)
    r0c = np.clip(r0, 0, h - 1)
    r1c = np.clip(r0 + 1, 0, h - 1)
    c0c = np.clip(c0, 0, w - 1)
    c1c = np.clip(c0 + 1, 0, w - 1)
    a = px.astype(np.float64)
    v00 = a[:, r0c, c0c]
    v01 = a[:, r0c, c1c]
    v10 = a[:, r1c, c0c]
    v11 = a[:, r1c, c1c]
    out = (
        v00 * (1 - tr) * (1 - tc) + v01 * (1 - tr) * tc
        + v10 * tr * (1 - tc) + v11 * tr * tc
    )
    out[:, oob] = nodata
    return out


def _cubic_kernel(t: np.ndarray, a: float = -0.5) -> np.ndarray:
    t = np.abs(t)
    out = np.zeros_like(t)
    m1 = t <= 1
    m2 = (t > 1) & (t < 2)
    out[m1] = (a + 2) * t[m1] ** 3 - (a + 3) * t[m1] ** 2 + 1
    out[m2] = a * t[m2] ** 3 - 5 * a * t[m2] ** 2 + 8 * a * t[m2] - 4 * a
    return out


def _sample_bicubic(px: np.ndarray, rows: np.ndarray, cols: np.ndarray,
                    nodata) -> np.ndarray:
    h, w = px.shape[1], px.shape[2]
    a = px.astype(np.float64)
    r0 = np.floor(rows).astype(np.int64)
    c0 = np.floor(cols).astype(np.int64)
    oob = (rows < -0.5) | (rows > h - 0.5) | (cols < -0.5) | (cols > w - 0.5)
    out = np.zeros((px.shape[0],) + rows.shape)
    wsum = np.zeros(rows.shape)
    for kr in range(-1, 3):
        wr = _cubic_kernel(rows - (r0 + kr))
        ri = np.clip(r0 + kr, 0, h - 1)
        for kc in range(-1, 3):
            wc = _cubic_kernel(cols - (c0 + kc))
            ci = np.clip(c0 + kc, 0, w - 1)
            wk = wr * wc
            wsum += wk
            out += a[:, ri, ci] * wk
    out /= np.where(wsum == 0, 1.0, wsum)
    out[:, oob] = nodata
    return out


_SAMPLERS = {
    "near": _sample_nearest,
    "bilinear": _sample_bilinear,
    "bicubic": _sample_bicubic,
}


def reproject_array(
    px: np.ndarray,
    src_crs: str,
    src_transform,
    grid: GridSpec,
    resampling: str = "near",
    nodata=0,
) -> np.ndarray:
    """Regrid one (bands, h, w) array onto ``grid`` (float64 out).

    ``preserved`` grids take the exact integer crop/pad path (no
    interpolation — pixels are bit-identical where the windows overlap,
    the image.py:820-833 guarantee); everything else samples target
    pixel CENTRES through the CRS + affine chain with the requested
    kernel.  Out-of-bounds positions become ``nodata``.
    """
    st = tuple(float(v) for v in src_transform)
    sx, x0, sy, y1 = st[0], st[2], -st[4], st[5]
    bands, h, w = px.shape
    out_h, out_w = grid.shape
    tt = grid.transform
    tsx, tx0, tsy, ty1 = tt[0], tt[2], -tt[4], tt[5]

    if grid.preserved:
        col0 = round((tx0 - x0) / sx)
        row0 = round((y1 - ty1) / sy)
        out = np.full((bands, out_h, out_w), nodata, dtype=px.dtype)
        sr0, sr1 = max(row0, 0), min(row0 + out_h, h)
        sc0, sc1 = max(col0, 0), min(col0 + out_w, w)
        if sr1 > sr0 and sc1 > sc0:
            out[:, sr0 - row0:sr1 - row0, sc0 - col0:sc1 - col0] = \
                px[:, sr0:sr1, sc0:sc1]
        return out

    if resampling not in _SAMPLERS:
        raise ValueError(
            f"unknown resampling {resampling!r} "
            f"(one of {sorted(_SAMPLERS)})"
        )
    # target pixel centres in target CRS
    jj, ii = np.meshgrid(np.arange(out_w), np.arange(out_h))
    txs = tx0 + (jj + 0.5) * tsx
    tys = ty1 - (ii + 0.5) * tsy
    # -> source CRS -> fractional source pixel coords (centre convention)
    sxs, sys = _transform_points(txs, tys, grid.crs, src_crs)
    cols = (sxs - x0) / sx - 0.5
    rows = (y1 - sys) / sy - 0.5
    return _SAMPLERS[resampling](px, rows, cols, nodata)


def reproject_images(
    images: DataFrame,
    crs: str | None = None,
    crs_transform=None,
    shape=None,
    region=None,
    scale: float | None = None,
    like=None,
    resampling: str = "near",
    dtype: str | None = None,
) -> DataFrame:
    """Reproject every image onto the export grid — the spatial half of
    prepareForExport (image.py:741-862) as one Arrow pass.

    ``like``: a template Row (or dict) with ``crs``/``transform``/
    ``w``/``h`` — overrides crs/crs_transform/shape (reference cli.py
    ``--like``).  Output rows carry the resolved grid (``transform``,
    ``crs``, ``w``, ``h``, footprint bbox when present) and raw-encoded
    pixels cast to ``dtype`` (default: source dtype; interpolating
    kernels compute in float64 and cast last with saturation,
    ``functions/dtypes.py``).

    Scale shape: narrow per-image map with ALL other input columns
    passed THROUGH the kernel (no metadata re-join — a join here would
    shuffle every byte blob twice); no shuffle, no driver loop; a
    1000-executor cluster regrids 1000 images at a time.
    """
    from pyspark.sql.types import (
        ArrayType, DoubleType, IntegerType, StringType, StructField,
        StructType,
    )

    if like is not None:
        crs, crs_transform, shape = grid_from_like(like)
    has_fixed = "transform" in images.columns
    validate_export_args(
        has_fixed, crs=crs, crs_transform=crs_transform, shape=shape,
        region=region, scale=scale,
    )
    kw = dict(crs=crs, crs_transform=crs_transform, shape=shape,
              region=region, scale=scale)

    # output schema = input schema with the grid columns RETYPED/replaced
    # (transform array<double>, crs string, h/w int, fmt string, bbox
    # doubles) and every other column passed through untouched
    replaced = {
        "bytes": None, "crs": StringType(),
        "transform": ArrayType(DoubleType()),
        "h": IntegerType(), "w": IntegerType(),
        "fmt": StringType(),
        "x0": DoubleType(), "y0": DoubleType(),
        "x1": DoubleType(), "y1": DoubleType(),
    }
    fields = []
    for f in images.schema.fields:
        if f.name in replaced and replaced[f.name] is not None:
            fields.append(StructField(f.name, replaced[f.name]))
        else:
            fields.append(f)
    names = [f.name for f in images.schema.fields]
    for extra in ("crs", "transform", "h", "w"):
        if extra not in names:
            fields.append(StructField(extra, replaced[extra]))
    out_schema = StructType(fields)
    out_names = out_schema.fieldNames()
    has_bbox = all(c in names for c in ("x0", "y0", "x1", "y1"))

    def _row(*values):
        row = dict(zip(names, values))
        px = codecs.decode(bytes(row["bytes"]))
        src_t = tuple(float(v) for v in row["transform"])
        src_crs = row["crs"]
        grid = resolve_grid(
            src_crs, src_t, (px.shape[1], px.shape[2]), **kw
        )
        out_dtype = dtype or px.dtype.name
        nodata = codecs.NODATA_VALS[out_dtype]
        arr = reproject_array(
            px, src_crs, src_t, grid, resampling=resampling,
            nodata=nodata,
        )
        arr = cast_pixels(arr, out_dtype)
        t = grid.transform
        row.update(
            bytes=codecs.encode_raw(np.ascontiguousarray(arr)),
            crs=grid.crs, transform=list(t),
            h=grid.shape[0], w=grid.shape[1],
        )
        if "fmt" in row:
            row["fmt"] = "raw"
        if has_bbox:
            row.update(
                x0=t[2], y1=t[5],
                x1=t[2] + grid.shape[1] * t[0],
                y0=t[5] + grid.shape[0] * t[4],
            )
        yield tuple(row[c] for c in out_names)

    return map_rows(images, names, out_schema, _row)
