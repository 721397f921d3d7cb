"""Zonal statistics — exact expectations on constructed rasters."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from geedim_spark import codecs
from geedim_spark.operators import zonal


def _image_rows(vals: np.ndarray, x0: float, y1: float, scale: float = 10.0):
    """One-image frame rows: vals is (h, w) band 0; band 1 all-zero."""
    px = np.zeros((2,) + vals.shape, dtype=np.uint16)
    px[0] = vals
    return [{
        "image_id": "IMG/T",
        "bytes": codecs.encode(px, "raw"),
        "transform": [scale, 0.0, x0, 0.0, -scale, y1],
    }]


def _zones(rows):
    return pd.DataFrame(rows, columns=["zone_id", "poly"])


def test_zonal_stats_rectangle_closed_form(spark):
    """4x4 image at origin, values 1..16 row-major; a 2x2-pixel zone over
    the centre; plus a zone overlapping only nodata and a disjoint zone."""
    vals = np.arange(1, 17, dtype=np.uint16).reshape(4, 4)
    vals[:, 0] = 0  # nodata column
    img = spark.createDataFrame(pd.DataFrame(_image_rows(vals, 0.0, 40.0)))
    zones = spark.createDataFrame(_zones([
        # centres at x,y in {15, 25}: cols 1-2, rows 1-2 -> values 6,7,10,11
        ("Z/mid", [[10.5, 10.5], [30.5, 10.5], [30.5, 30.5], [10.5, 30.5]]),
        # covers only the nodata column (centres x=5)
        ("Z/nodata", [[-10.5, 0.5], [9.5, 0.5], [9.5, 39.5], [-10.5, 39.5]]),
        # fully outside the image bbox -> no row at all
        ("Z/out", [[100.5, 0.5], [120.5, 0.5], [120.5, 20.5], [100.5, 20.5]]),
    ]))
    got = {r["zone_id"]: r for r in
           zonal.zonal_stats(img, zones, band=0).collect()}
    assert set(got) == {"Z/mid", "Z/nodata"}
    mid = got["Z/mid"]
    assert (mid["n_px"], mid["sum_val"]) == (4, 34.0)
    assert (mid["min_val"], mid["max_val"], mid["mean_val"]) == (6.0, 11.0, 8.5)
    nod = got["Z/nodata"]
    assert (nod["n_px"], nod["sum_val"], nod["min_val"], nod["max_val"],
            nod["mean_val"]) == (0, 0.0, 0.0, 0.0, 0.0)


def test_zonal_stats_triangle_vs_independent_halfplane(spark):
    """Non-rectangular zone: right triangle (0,0)-(L,0)-(0,L).  The
    expected pixel set is computed with an independent half-plane test
    (x > 0, y > 0, x + y < L at pixel centres), not the ray-cast code."""
    rng = np.random.default_rng(3)
    vals = rng.integers(1, 1000, (8, 8)).astype(np.uint16)
    L = 52.5  # never ties a centre: x_c + y_c is always an integer
    img = spark.createDataFrame(pd.DataFrame(_image_rows(vals, 0.0, 80.0)))
    zones = spark.createDataFrame(_zones([
        ("Z/tri", [[0.0, 0.0], [L, 0.0], [0.0, L]]),
    ]))
    r = zonal.zonal_stats(img, zones, band=0).collect()[0]
    xc = np.arange(8) * 10.0 + 5.0
    yc = 80.0 - (np.arange(8) * 10.0 + 5.0)
    X, Y = np.meshgrid(xc, yc)
    inside = (X > 0) & (Y > 0) & (X + Y < L)
    want = vals[inside].astype(float)
    assert r["n_px"] == int(inside.sum()) > 0
    assert r["sum_val"] == want.sum()
    assert (r["min_val"], r["max_val"]) == (want.min(), want.max())
    assert r["mean_val"] == round(want.sum() / len(want), 6)


def test_zonal_stats_validation_and_plan(spark):
    vals = np.ones((4, 4), dtype=np.uint16)
    img = spark.createDataFrame(pd.DataFrame(_image_rows(vals, 0.0, 40.0)))
    zones = spark.createDataFrame(_zones([
        ("Z/a", [[0.5, 0.5], [20.5, 0.5], [20.5, 20.5], [0.5, 20.5]]),
    ]))
    with pytest.raises(ValueError, match="band must"):
        zonal.zonal_stats(img, zones, band=-1)
    with pytest.raises(ValueError, match="max_zones"):
        zonal.zonal_stats(img, zones, max_zones=0)
    bad = spark.createDataFrame(_zones([("Z/bad", [[0.0, 0.0], [1.0, 1.0]])]))
    with pytest.raises(ValueError, match="n>=3"):
        zonal.zonal_stats(img, bad)
    with pytest.raises(Exception, match="band 7 out of range"):
        zonal.zonal_stats(img, zones, band=7).collect()
    # scale shape: one narrow Python map pass, zones broadcast in the
    # closure -> no shuffle anywhere
    plan = (zonal.zonal_stats(img, zones)._jdf.queryExecution()
            .executedPlan().toString())
    assert "Exchange" not in plan
