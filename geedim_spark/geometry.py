"""Pure-numpy geometry kernels (no shapely in this environment).

Backs the polygon zonal statistics (:mod:`geedim_spark.operators.zonal`),
the CLI's ``--bbox``/``--region`` bounds and the raster<->vector mask
conversions the north rule requires.  The reference delegates all of this to
the Earth Engine service (``filterBounds`` collection.py:601; geometry
handling cli.py:171-176, image.py:384-404); our engine owns it.

All functions are vectorised over numpy arrays and called from Arrow-batched
pandas UDFs only — never per-row Python.
"""

from __future__ import annotations

import numpy as np


def points_in_polygon(px: np.ndarray, py: np.ndarray, poly: np.ndarray) -> np.ndarray:
    """Ray-cast point-in-polygon for many points vs one polygon.

    ``poly`` is (n, 2) of vertices (closed or open ring).  Points exactly on
    an edge may land either side (standard ray-cast caveat) — callers that
    need closed semantics should buffer by epsilon.
    """
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    poly = np.asarray(poly, dtype=np.float64)
    if np.array_equal(poly[0], poly[-1]):
        poly = poly[:-1]
    x0, y0 = poly[:, 0], poly[:, 1]
    x1, y1 = np.roll(x0, -1), np.roll(y0, -1)

    inside = np.zeros(px.shape, dtype=bool)
    for ex0, ey0, ex1, ey1 in zip(x0, y0, x1, y1):
        crosses = (ey0 > py) != (ey1 > py)
        with np.errstate(divide="ignore", invalid="ignore"):
            xint = ex0 + (py - ey0) / (ey1 - ey0) * (ex1 - ex0)
        inside ^= crosses & (px < xint)
    return inside


def polygon_bounds(poly: np.ndarray) -> tuple[float, float, float, float]:
    poly = np.asarray(poly, dtype=np.float64)
    return (
        float(poly[:, 0].min()), float(poly[:, 1].min()),
        float(poly[:, 0].max()), float(poly[:, 1].max()),
    )


def bbox_polygon(x0: float, y0: float, x1: float, y1: float) -> np.ndarray:
    """Bounds -> 5-vertex closed ring (reference: cli.py:171-176 analog)."""
    return np.array(
        [[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]], dtype=np.float64
    )


# ---------------------------------------------------------------------------
# raster <-> vector
# ---------------------------------------------------------------------------

def _require_axis_aligned(transform) -> None:
    if transform[1] != 0 or transform[3] != 0:
        raise ValueError(
            "raster<->vector conversion requires an axis-aligned transform "
            f"(shear terms b={transform[1]}, d={transform[3]}); rotate/"
            "resample the raster first"
        )


def polygon_to_mask(
    poly: np.ndarray, transform: np.ndarray, h: int, w: int
) -> np.ndarray:
    """Rasterise a polygon onto a tile grid (scanline via ray-cast at pixel
    centres).  ``transform`` = (sx, 0, x0, 0, -sy, y1) affine, row-major."""
    _require_axis_aligned(transform)
    sx, _, x0, _, nsy, y1 = [float(t) for t in transform]
    cols = x0 + (np.arange(w) + 0.5) * sx
    rows = y1 + (np.arange(h) + 0.5) * nsy
    px, py = np.meshgrid(cols, rows)
    return points_in_polygon(px.ravel(), py.ravel(), poly).reshape(h, w)


def mask_to_polygons(mask: np.ndarray, transform: np.ndarray) -> list[np.ndarray]:
    """Vectorise a binary tile mask into closed rings (world coords).

    Run-length decomposition: maximal horizontal runs merged vertically into
    rectangles, each emitted as a ring.  Exact for the axis-aligned masks the
    engine produces (strip masks, bbox clips); a union of the returned rings
    rasterises back to the input mask bit-for-bit (tested inverse property).
    """
    _require_axis_aligned(transform)
    sx, _, x0, _, nsy, y1 = [float(t) for t in transform]
    mask = np.asarray(mask, dtype=bool)
    h, w = mask.shape
    # active rectangles: (col_start, col_stop, row_start)
    open_rects: dict[tuple[int, int], int] = {}
    out: list[np.ndarray] = []

    def _emit(c0: int, c1: int, r0: int, r1: int) -> None:
        wx0 = x0 + c0 * sx
        wx1 = x0 + c1 * sx
        wy1 = y1 + r0 * nsy  # top
        wy0 = y1 + r1 * nsy  # bottom (nsy < 0)
        out.append(bbox_polygon(wx0, min(wy0, wy1), wx1, max(wy0, wy1)))

    for r in range(h + 1):
        runs = set()
        if r < h:
            row = mask[r]
            if row.any():
                d = np.diff(np.concatenate([[0], row.view(np.int8), [0]]))
                starts = np.flatnonzero(d == 1)
                stops = np.flatnonzero(d == -1)
                runs = set(zip(starts.tolist(), stops.tolist()))
        for key in list(open_rects):
            if key not in runs:
                _emit(key[0], key[1], open_rects.pop(key), r)
        for key in runs:
            open_rects.setdefault(key, r)
    return out
