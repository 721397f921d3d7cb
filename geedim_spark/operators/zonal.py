"""Zonal statistics — per-polygon region reduce over image pixels.

The reference reduces regions server-side (regionCoverage in mask.py:60-90
computes portions over ONE region per image); a zonal-stats surface — many
named zones, per-zone count/sum/min/max/mean — is the standard geospatial
analytics ask built on the same primitives (pixel-centre rasterisation via
``geometry.polygon_to_mask`` + masked reduction), so the engine exposes it
as a first-class operator.

Scale shape (100 TB): zones are a dim table — collected once on the driver
(bounded by ``max_zones``, the same bounded-collect contract as the IVF
centroid sample) and shipped to executors inside the Arrow kernel closure;
images stream through ONE narrow Arrow pass (``kernels.map_rows``:
decode once per image, vectorised bbox candidate pruning across all zones,
rasterise only the candidates).  Zero shuffle, zero join of pixel bytes.
For zone tables too large to broadcast, pre-pair with the grid-cell
spatial join (operators/spatial_join.py) and group per image instead.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

from geedim_spark import codecs, geometry
from geedim_spark.kernels import map_rows

_SCHEMA = (
    "image_id string, zone_id string, n_px long, sum_val double, "
    "min_val double, max_val double, mean_val double"
)


def zonal_stats(
    images: DataFrame,
    zones: DataFrame,
    band: int = 0,
    nodata: float = 0.0,
    max_zones: int = 200_000,
) -> DataFrame:
    """Per-(image, zone) statistics of ``band`` over pixels whose centre
    falls inside the zone polygon AND whose value != ``nodata``.

    ``images`` needs (image_id, bytes, transform); ``zones`` needs
    (zone_id, poly) where ``poly`` is an array of [x, y] world-coordinate
    vertices (closed or open ring, axis-aligned transform required —
    geometry.polygon_to_mask's contract).

    One output row per (image, zone) pair whose bounding boxes strictly
    intersect — including n_px = 0 pairs (sliver overlaps with no pixel
    centre, or fully-nodata overlap), where sum/min/max/mean are 0.0 by
    convention so the row set is a pure function of the bbox pairing.
    ``mean_val`` is rounded to 6 places.
    """
    if band < 0:
        raise ValueError(f"band must be >= 0, got {band}")
    zrows = zones.select("zone_id", "poly").limit(max_zones + 1).collect()
    if len(zrows) > max_zones:
        raise ValueError(
            f"zones table exceeds max_zones={max_zones}; pre-pair with the "
            "grid-cell spatial join instead of broadcasting"
        )
    zids = [r["zone_id"] for r in zrows]
    polys = [np.asarray(r["poly"], dtype=np.float64) for r in zrows]
    for zid, p in zip(zids, polys):
        if p.ndim != 2 or p.shape[1] != 2 or p.shape[0] < 3:
            raise ValueError(f"zone {zid!r}: poly must be (n>=3, 2) vertices")
    if polys:
        zb = np.array([geometry.polygon_bounds(p) for p in polys])
        zx0s, zy0s, zx1s, zy1s = zb[:, 0], zb[:, 1], zb[:, 2], zb[:, 3]
    else:
        zx0s = zy0s = zx1s = zy1s = np.zeros(0)
    nodata_f = float(nodata)

    def _row(image_id, buf, tf):
        px = codecs.decode(bytes(buf))
        if band >= px.shape[0]:
            raise ValueError(
                f"band {band} out of range for {image_id} "
                f"({px.shape[0]} bands)"
            )
        tf = np.asarray(tf, dtype=np.float64)
        h, w = px.shape[1], px.shape[2]
        ix0, iy1 = tf[2], tf[5]
        ix1 = ix0 + w * tf[0]
        iy0 = iy1 + h * tf[4]  # tf[4] = -sy
        cand = np.nonzero(
            (zx0s < ix1) & (ix0 < zx1s) & (zy0s < iy1) & (iy0 < zy1s)
        )[0]
        if not cand.size:
            return
        vals = px[band].astype(np.float64)
        valid = vals != nodata_f
        for ci in cand:
            m = geometry.polygon_to_mask(polys[ci], tf, h, w) & valid
            n = int(m.sum())
            if n:
                zv = vals[m]
                s, lo, hi = float(zv.sum()), float(zv.min()), float(zv.max())
                mean = round(s / n, 6)
            else:
                s = lo = hi = mean = 0.0
            yield image_id, zids[ci], n, s, lo, hi, mean

    return map_rows(images, ["image_id", "bytes", "transform"], _SCHEMA, _row)
