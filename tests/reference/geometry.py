"""numpy twins of the Catalyst bbox predicates the spatial join refines
with (``geedim_spark.operators.spatial_join``): planar closed-interval
intersection and the antimeridian-aware arc test."""

from __future__ import annotations

import numpy as np


def bbox_intersects(ax0, ay0, ax1, ay1, bx0, by0, bx1, by1):
    """Closed-interval bbox intersection (touching edges intersect)."""
    return (
        (np.asarray(ax0) <= bx1) & (np.asarray(ax1) >= bx0)
        & (np.asarray(ay0) <= by1) & (np.asarray(ay1) >= by0)
    )


def lon_interval_contains(x0, x1, p):
    """Is longitude ``p`` inside the circular arc [x0, x1]?  ``x0 > x1``
    means the arc crosses the antimeridian."""
    x0, x1, p = np.asarray(x0), np.asarray(x1), np.asarray(p)
    return np.where(x0 <= x1, (x0 <= p) & (p <= x1), (p >= x0) | (p <= x1))


def geo_bbox_intersects(ax0, ay0, ax1, ay1, bx0, by0, bx1, by1):
    """Wrap-aware bbox intersection: lon intervals are arcs on the circle
    (start > end = crosses the antimeridian), lat intervals are plain.

    Two circular arcs intersect iff either contains the other's start —
    the closed-interval version of the standard arc test."""
    lon = lon_interval_contains(ax0, ax1, bx0) | lon_interval_contains(
        bx0, bx1, ax0
    )
    return lon & (np.asarray(ay0) <= by1) & (np.asarray(ay1) >= by0)
