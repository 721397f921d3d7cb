"""Hierarchical grid cell index (H3/S2-style) — pure Spark + numpy, no deps.

The reference delegates spatial indexing to the Earth Engine service
(``filterBounds``, /root/reference/geedim/collection.py:601-602).  Our engine
owns it: image footprints and ROI geometries are covered with cells of a
fixed quadtree grid, and the spatial join becomes a plain equi-join on
``cell`` (see :mod:`geedim_spark.operators.spatial_join`) followed by an
exact geometric refinement.  This is the standard S2/H3 cover-join pattern;
since neither library ships in this environment the index is a
bit-concatenated (quadkey-equivalent) grid over a configurable planar extent:

    ix = floor((x - x0) / world * 2^res)   clamped to [0, 2^res - 1]
    iy = floor((y - y0) / world * 2^res)
    cell = ix * 2^res + iy                 (int64; res <= 30)

Properties: deterministic, exactly invertible, hierarchical
(``parent = (ix >> d) * 2^(res-d) + (iy >> d)``), SQL-expressible — the
DuckDB oracle computes the identical ids with integer arithmetic.

All column-side functions are Catalyst expressions (sequence/transform/
flatten) — cell covering and kRing expansion never leave the JVM.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

# Planar test world.  Power-of-two size keeps cell widths exact binary
# fractions so float -> int grid math is reproducible bit-for-bit in SQL.
WORLD_X0 = 0.0
WORLD_Y0 = 0.0
WORLD_SIZE = 102400.0  # metres
DEFAULT_RES = 7  # 128 x 128 cells of 800 m


# ---------------------------------------------------------------------------
# numpy side (used inside pixel kernels + tests)
# ---------------------------------------------------------------------------

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


def np_kring(cell: int, k: int, res: int = DEFAULT_RES) -> np.ndarray:
    """Cells within Chebyshev distance k (incl. centre), clipped to world."""
    n = 1 << res
    ix, iy = divmod(int(cell), n)
    xs = np.arange(max(0, ix - k), min(n - 1, ix + k) + 1, dtype=np.int64)
    ys = np.arange(max(0, iy - k), min(n - 1, iy + k) + 1, dtype=np.int64)
    return (xs[:, None] * n + ys[None, :]).ravel()


def np_parent(cell: np.ndarray, res: int, parent_res: int) -> np.ndarray:
    d = res - parent_res
    n = 1 << res
    ix, iy = np.divmod(np.asarray(cell, dtype=np.int64), n)
    return (ix >> d) * (1 << parent_res) + (iy >> d)


# ---------------------------------------------------------------------------
# Spark column side (JVM expressions; whole-stage-codegen friendly)
# ---------------------------------------------------------------------------

def col_cell_index(coord: Column, origin: float, res: int) -> Column:
    n = 1 << res
    raw = F.floor((coord - F.lit(origin)) / F.lit(WORLD_SIZE) * F.lit(n))
    return F.greatest(F.lit(0), F.least(F.lit(n - 1), raw)).cast("long")


def col_cell(x: Column, y: Column, res: int = DEFAULT_RES) -> Column:
    ix = col_cell_index(x, WORLD_X0, res)
    iy = col_cell_index(y, WORLD_Y0, res)
    return (ix * F.lit(1 << res) + iy).alias("cell")


def col_cover_bbox(x0: Column, y0: Column, x1: Column, y1: Column,
                   res: int = DEFAULT_RES) -> Column:
    """array<long> of cells covering the bbox — pure sequence/transform."""
    n = F.lit(1 << res)
    ix0 = col_cell_index(x0, WORLD_X0, res)
    ix1 = col_cell_index(x1, WORLD_X0, res)
    iy0 = col_cell_index(y0, WORLD_Y0, res)
    iy1 = col_cell_index(y1, WORLD_Y0, res)
    return F.flatten(
        F.transform(
            F.sequence(ix0, ix1),
            lambda ix: F.transform(F.sequence(iy0, iy1), lambda iy: ix * n + iy),
        )
    )


def col_kring(cell: Column, k: int, res: int = DEFAULT_RES) -> Column:
    """array<long> of cells within Chebyshev distance k, clipped to world.

    Realises the reference's directional/distance neighbourhood reach
    (mask.py:331-372 shadow projection; mask.py:88-124 cloud distance) as a
    neighbour-cell table: the stencil halo join is an equi-join against the
    exploded kRing.
    """
    n = F.lit(1 << res)
    nmax = F.lit((1 << res) - 1)
    # shiftright, not double division: (cell / n) goes through float64 and
    # loses exactness for cells >= 2^53 (res 27+), silently recentring the
    # ring; n is a power of two so ix = cell >> res is exact
    ix = F.shiftright(cell, res)
    iy = cell % n
    dxs = F.sequence(F.lit(-k), F.lit(k))
    return F.flatten(
        F.transform(
            dxs,
            lambda dx: F.filter(
                F.transform(
                    F.sequence(F.lit(-k), F.lit(k)),
                    lambda dy: F.when(
                        (ix + dx >= 0) & (ix + dx <= nmax)
                        & (iy + dy >= 0) & (iy + dy <= nmax),
                        (ix + dx) * n + (iy + dy),
                    ),
                ),
                lambda c: c.isNotNull(),
            ),
        )
    )


# ---------------------------------------------------------------------------
# Geographic (lon/lat) grid: longitude WRAPS on the antimeridian, latitude
# clamps at the poles.  The planar grid above keeps the synthetic test world;
# these variants are the geographic-CRS story (reference CRSes are EPSG
# lon/lat or UTM — geedim download.py reprojects per-tile; here the index
# itself is CRS-aware so kRing/cover joins stay correct across ±180°).
# ---------------------------------------------------------------------------

GEO_LON0, GEO_LON_SPAN = -180.0, 360.0
GEO_LAT0, GEO_LAT_SPAN = -90.0, 180.0


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


def np_geo_kring(cell: int, k: int, res: int = DEFAULT_RES) -> np.ndarray:
    """Chebyshev-k neighbourhood with lon wrap: the ring of a cell touching
    the antimeridian reaches across it instead of clamping."""
    n = 1 << res
    ix, iy = divmod(int(cell), n)
    xs = np.mod(np.arange(ix - k, ix + k + 1, dtype=np.int64), n)
    ys = np.arange(max(0, iy - k), min(n - 1, iy + k) + 1, dtype=np.int64)
    return np.unique((xs[:, None] * n + ys[None, :]).ravel())


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


def col_geo_ix(lon: Column, res: int) -> Column:
    n = 1 << res
    raw = F.floor((lon - F.lit(GEO_LON0)) / F.lit(GEO_LON_SPAN) * F.lit(n))
    # pmod: Catalyst % keeps the dividend's sign; wrap needs non-negative
    return ((raw % n + n) % n).cast("long")


def col_geo_iy(lat: Column, res: int) -> Column:
    n = 1 << res
    raw = F.floor((lat - F.lit(GEO_LAT0)) / F.lit(GEO_LAT_SPAN) * F.lit(n))
    return F.greatest(F.lit(0), F.least(F.lit(n - 1), raw)).cast("long")


def col_geo_cell(lon: Column, lat: Column, res: int = DEFAULT_RES) -> Column:
    return (col_geo_ix(lon, res) * F.lit(1 << res) + col_geo_iy(lat, res)).alias("cell")


def col_geo_kring(cell: Column, k: int, res: int = DEFAULT_RES) -> Column:
    """array<long> Chebyshev-k ring with lon wrap, lat clamp — pure Catalyst.

    sort(distinct): when the ring wraps the whole circle (2k+1 > 2^res) the
    mod-n columns collide; dedup + sort keeps the output identical to
    np_geo_kring's np.unique."""
    n = F.lit(1 << res)
    nmax = F.lit((1 << res) - 1)
    ix = F.shiftright(cell, res)  # exact (see col_kring)
    iy = cell % n
    ring = F.flatten(
        F.transform(
            F.sequence(F.lit(-k), F.lit(k)),
            lambda dx: F.filter(
                F.transform(
                    F.sequence(F.lit(-k), F.lit(k)),
                    lambda dy: F.when(
                        (iy + dy >= 0) & (iy + dy <= nmax),
                        ((ix + dx) % n + n) % n * n + (iy + dy),
                    ),
                ),
                lambda c: c.isNotNull(),
            ),
        )
    )
    return F.array_sort(F.array_distinct(ring))


def col_geo_ix_hi(lon: Column, res: int) -> Column:
    """Catalyst twin of np_geo_ix_hi (right-edge index; seam -> last col)."""
    n = 1 << res
    # pmod form: Catalyst % keeps the dividend's sign (np.mod does not), so
    # a bare % leaves lon > 180 unwrapped (clamping it to the last column
    # instead of wrapping like the numpy twin)
    x = F.lit(180.0) - ((F.lit(180.0) - lon) % 360.0 + 360.0) % 360.0
    raw = F.floor((x - F.lit(GEO_LON0)) / F.lit(GEO_LON_SPAN) * F.lit(n))
    return F.least(raw, F.lit(n - 1)).cast("long")


def col_geo_cover_bbox(lon0: Column, lat0: Column, lon1: Column, lat1: Column,
                       res: int = DEFAULT_RES) -> Column:
    """array<long> covering a geographic bbox; splits on antimeridian
    crossings (normalised lon0 > lon1) — pure sequence/concat, JVM-side."""
    n = F.lit(1 << res)
    nmax = F.lit((1 << res) - 1)
    ix0, ix1 = col_geo_ix(lon0, res), col_geo_ix_hi(lon1, res)
    iy0, iy1 = col_geo_iy(lat0, res), col_geo_iy(lat1, res)
    # pmod wraps (see col_geo_ix_hi): out-of-contract lon0 < -180 /
    # lon1 > 180 must normalise exactly like the numpy twins
    lo = ((lon0 + 180.0) % 360.0 + 360.0) % 360.0 - 180.0
    hi = F.lit(180.0) - ((F.lit(180.0) - lon1) % 360.0 + 360.0) % 360.0
    xs = F.when(lo <= hi, F.sequence(ix0, ix1)).otherwise(
        F.concat(F.sequence(ix0, nmax), F.sequence(F.lit(0).cast("long"), ix1))
    )
    return F.flatten(
        F.transform(
            xs,
            lambda ix: F.transform(F.sequence(iy0, iy1), lambda iy: ix * n + iy),
        )
    )


def sql_cell_index(coord_expr: str, origin: float, res: int) -> str:
    """DuckDB-compatible SQL producing the identical cell index (oracle)."""
    n = 1 << res
    return (
        f"greatest(0, least({n - 1}, "
        f"cast(floor(({coord_expr} - {origin}) / {WORLD_SIZE} * {n}) as bigint)))"
    )


def sql_cell(x_expr: str, y_expr: str, res: int = DEFAULT_RES) -> str:
    n = 1 << res
    return (
        f"({sql_cell_index(x_expr, WORLD_X0, res)} * {n} "
        f"+ {sql_cell_index(y_expr, WORLD_Y0, res)})"
    )
