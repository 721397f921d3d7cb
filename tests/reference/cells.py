"""numpy twins of the Catalyst cell encoders in ``geedim_spark.cells``:
the planar grid (``np_cell``, ``np_cover_bbox``, ``np_parent``) and the
geographic grid with antimeridian wrap (``np_geo_*``)."""

from __future__ import annotations

import numpy as np

from geedim_spark.cells import (DEFAULT_RES, GEO_LAT0, GEO_LAT_SPAN, GEO_LON0,
                                GEO_LON_SPAN, WORLD_SIZE, WORLD_X0, WORLD_Y0)


def np_cell_index(coord: np.ndarray, origin: float, res: int) -> np.ndarray:
    n = 1 << res
    ix = np.floor((np.asarray(coord, dtype=np.float64) - origin) / WORLD_SIZE * n)
    return np.clip(ix, 0, n - 1).astype(np.int64)


def np_cell(x: np.ndarray, y: np.ndarray, res: int = DEFAULT_RES) -> np.ndarray:
    ix = np_cell_index(x, WORLD_X0, res)
    iy = np_cell_index(y, WORLD_Y0, res)
    return ix * (1 << res) + iy


def np_cover_bbox(x0, y0, x1, y1, res: int = DEFAULT_RES) -> np.ndarray:
    """All cells intersecting the closed bbox (vectorised per single bbox)."""
    ix0, ix1 = np_cell_index(np.array([x0, x1]), WORLD_X0, res)
    iy0, iy1 = np_cell_index(np.array([y0, y1]), WORLD_Y0, res)
    ix = np.arange(ix0, ix1 + 1, dtype=np.int64)
    iy = np.arange(iy0, iy1 + 1, dtype=np.int64)
    return (ix[:, None] * (1 << res) + iy[None, :]).ravel()


def np_parent(cell: np.ndarray, res: int, parent_res: int) -> np.ndarray:
    d = res - parent_res
    n = 1 << res
    ix, iy = np.divmod(np.asarray(cell, dtype=np.int64), n)
    return (ix >> d) * (1 << parent_res) + (iy >> d)


def np_geo_ix(lon: np.ndarray, res: int) -> np.ndarray:
    """Longitude cell index, wrapped: lon and lon+360 land in the same cell."""
    n = 1 << res
    raw = np.floor((np.asarray(lon, np.float64) - GEO_LON0) / GEO_LON_SPAN * n)
    return np.mod(raw, n).astype(np.int64)


def np_geo_iy(lat: np.ndarray, res: int) -> np.ndarray:
    """Latitude cell index, clamped at the poles (no wrap across them)."""
    n = 1 << res
    raw = np.floor((np.asarray(lat, np.float64) - GEO_LAT0) / GEO_LAT_SPAN * n)
    return np.clip(raw, 0, n - 1).astype(np.int64)


def np_geo_cell(lon: np.ndarray, lat: np.ndarray, res: int = DEFAULT_RES) -> np.ndarray:
    return np_geo_ix(lon, res) * (1 << res) + np_geo_iy(lat, res)


def np_geo_ix_hi(lon: np.ndarray, res: int) -> np.ndarray:
    """Longitude cell index for a RIGHT bbox edge: the seam itself
    (lon == ±180, i.e. the end of an arc) belongs to the LAST column, not
    column 0 — otherwise a box ending exactly at +180 gets an empty or
    wrapped-around cover (a box [-180, 180] must cover the whole globe)."""
    n = 1 << res
    # normalise into (-180, 180]: +180 stays +180 (and -180 -> +180, the
    # same point on the circle approached as a right edge)
    x = 180.0 - np.mod(180.0 - np.asarray(lon, np.float64), 360.0)
    raw = np.floor((x - GEO_LON0) / GEO_LON_SPAN * n)
    return np.minimum(raw, n - 1).astype(np.int64)


def np_geo_cover_bbox(lon0, lat0, lon1, lat1, res: int = DEFAULT_RES) -> np.ndarray:
    """Cells covering a geographic bbox; lon0 > lon1 means the box crosses
    the antimeridian and the lon range splits into [ix0, n-1] + [0, ix1].
    Edges are expected in [-180, 180]; the right edge at exactly +180 maps
    to the last column (see np_geo_ix_hi)."""
    n = 1 << res
    ix0, ix1 = int(np_geo_ix(np.array([lon0]), res)[0]), int(np_geo_ix_hi(np.array([lon1]), res)[0])
    iy0, iy1 = int(np_geo_iy(np.array([lat0]), res)[0]), int(np_geo_iy(np.array([lat1]), res)[0])
    # crossing decided on NORMALISED edges: left into [-180, 180), right
    # into (-180, 180] — so [170, -180] == [170, 180] (non-crossing)
    lo = np.mod(lon0 + 180.0, 360.0) - 180.0
    hi = 180.0 - np.mod(180.0 - lon1, 360.0)
    if lo <= hi:
        xs = np.arange(ix0, ix1 + 1, dtype=np.int64)
    else:
        xs = np.concatenate([
            np.arange(ix0, n, dtype=np.int64), np.arange(0, ix1 + 1, dtype=np.int64)
        ])
    ys = np.arange(iy0, iy1 + 1, dtype=np.int64)
    return (xs[:, None] * n + ys[None, :]).ravel()
