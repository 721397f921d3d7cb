"""Geometry kernel tests: point-in-polygon vs analytic, raster<->vector
inverse property."""

from __future__ import annotations

import numpy as np

from geedim_spark import geometry as geo
from tests.reference import geometry as ref_geo


def test_points_in_polygon_square():
    poly = geo.bbox_polygon(0, 0, 10, 10)
    px = np.array([5.0, -1.0, 15.0, 9.9, 0.1])
    py = np.array([5.0, 5.0, 5.0, 9.9, 0.1])
    assert geo.points_in_polygon(px, py, poly).tolist() == [
        True, False, False, True, True,
    ]


def test_points_in_polygon_lshape():
    # L-shaped polygon: concavity handled by ray cast
    poly = np.array([[0, 0], [10, 0], [10, 5], [5, 5], [5, 10], [0, 10], [0, 0]])
    px = np.array([2.0, 7.0, 7.0, 2.0])
    py = np.array([2.0, 2.0, 7.0, 7.0])
    assert geo.points_in_polygon(px, py, poly).tolist() == [True, True, False, True]


def test_bbox_intersects():
    assert ref_geo.bbox_intersects(0, 0, 2, 2, 1, 1, 3, 3)
    assert ref_geo.bbox_intersects(0, 0, 2, 2, 2, 2, 3, 3)  # touching counts
    assert not ref_geo.bbox_intersects(0, 0, 2, 2, 2.1, 0, 3, 2)


def test_polygon_bounds():
    poly = np.array([[1, 2], [5, 2], [3, 8]])
    assert geo.polygon_bounds(poly) == (1, 2, 5, 8)


def test_polygon_to_mask_scanline():
    transform = np.array([1.0, 0, 0, 0, -1.0, 10.0])  # 10x10 world, 1 m px
    poly = geo.bbox_polygon(2, 3, 7, 8)
    mask = geo.polygon_to_mask(poly, transform, 10, 10)
    # pixel centres inside [2,7)x(3,8]: cols 2..6, world rows y in (3,8) ->
    # array rows 2..6 (row r centre y = 10 - r - 0.5)
    want = np.zeros((10, 10), bool)
    want[2:7, 2:7] = True
    assert np.array_equal(mask, want)


def test_mask_to_polygons_roundtrip():
    """Vectorise then rasterise reproduces the mask bit-for-bit."""
    transform = np.array([1.0, 0, 0, 0, -1.0, 20.0])
    rng = np.random.default_rng(5)
    mask = rng.random((20, 20)) < 0.3
    polys = geo.mask_to_polygons(mask, transform)
    back = np.zeros((20, 20), bool)
    for p in polys:
        back |= geo.polygon_to_mask(p, transform, 20, 20)
    assert np.array_equal(back, mask)


def test_mask_to_polygons_merges_rectangles():
    transform = np.array([1.0, 0, 0, 0, -1.0, 10.0])
    mask = np.zeros((10, 10), bool)
    mask[2:8, 3:6] = True  # one solid rectangle -> one ring
    polys = geo.mask_to_polygons(mask, transform)
    assert len(polys) == 1
    x0, y0, x1, y1 = geo.polygon_bounds(polys[0])
    assert (x0, x1) == (3, 6)
    assert (y0, y1) == (10 - 8, 10 - 2)
