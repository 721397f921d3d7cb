"""Hierarchical grid cell index (H3/S2-style) — pure Spark, no deps.

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

All functions are Catalyst expressions (sequence/transform/flatten) —
cell covering never leaves the JVM.  Their numpy twins, which the tests
check them against, are in ``tests/reference/cells.py``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Planar test world.  Power-of-two size keeps cell widths exact binary
# fractions so float -> int grid math is reproducible bit-for-bit in SQL.
WORLD_X0 = 0.0
WORLD_Y0 = 0.0
WORLD_SIZE = 102400.0  # metres
DEFAULT_RES = 7  # 128 x 128 cells of 800 m


def col_cell_index(coord: Column, origin: float, res: int) -> Column:
    n = 1 << res
    raw = F.floor((coord - F.lit(origin)) / F.lit(WORLD_SIZE) * F.lit(n))
    return F.greatest(F.lit(0), F.least(F.lit(n - 1), raw)).cast("long")


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


# ---------------------------------------------------------------------------
# Geographic (lon/lat) grid: longitude WRAPS on the antimeridian, latitude
# clamps at the poles.  The planar grid above keeps the synthetic test world;
# these variants are the geographic-CRS story (reference CRSes are EPSG
# lon/lat or UTM — geedim download.py reprojects per-tile; here the index
# itself is CRS-aware so cover joins stay correct across ±180°).
# ---------------------------------------------------------------------------

GEO_LON0, GEO_LON_SPAN = -180.0, 360.0
GEO_LAT0, GEO_LAT_SPAN = -90.0, 180.0


def col_geo_ix(lon: Column, res: int) -> Column:
    n = 1 << res
    raw = F.floor((lon - F.lit(GEO_LON0)) / F.lit(GEO_LON_SPAN) * F.lit(n))
    # pmod: Catalyst % keeps the dividend's sign; wrap needs non-negative
    return ((raw % n + n) % n).cast("long")


def col_geo_iy(lat: Column, res: int) -> Column:
    n = 1 << res
    raw = F.floor((lat - F.lit(GEO_LAT0)) / F.lit(GEO_LAT_SPAN) * F.lit(n))
    return F.greatest(F.lit(0), F.least(F.lit(n - 1), raw)).cast("long")


def col_geo_ix_hi(lon: Column, res: int) -> Column:
    """Right-edge longitude index: the seam (lon == ±180, the end of an
    arc) belongs to the LAST column, so a box [-180, 180] covers the globe."""
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
