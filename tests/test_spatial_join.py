"""Spatial join: Spark cell-cover join + refine vs direct DuckDB bbox join
(the driver-style oracle), determinism across parallelism, salting."""

from __future__ import annotations

import duckdb
import pytest

from geedim_spark import synth
from geedim_spark.operators import spatial_join as sj


def _oracle_pairs(n, m):
    con = duckdb.connect()
    q = f"""
        WITH images AS ({synth.sql_images(n)}), rois AS ({synth.sql_rois(m)})
        SELECT image_id, roi_id FROM images JOIN rois
        ON x0 <= rx1 AND x1 >= rx0 AND y0 <= ry1 AND y1 >= ry0
        ORDER BY image_id, roi_id
    """
    return con.execute(q).fetchall()


def test_filter_bounds_matches_duckdb_oracle(spark):
    n, m = 400, 10
    imgs = synth.images_meta_df(spark, n)
    rois = synth.rois_df(spark, m)
    got = sorted(
        (r["image_id"], r["roi_id"])
        for r in sj.filter_bounds(imgs, rois).collect()
    )
    want = [tuple(r) for r in _oracle_pairs(n, m)]
    assert len(want) > 20  # non-trivial join
    assert got == want


@pytest.mark.parametrize("res", [5, 7, 9])
def test_filter_bounds_resolution_invariant(spark, res):
    """Exact refine makes the result independent of cell resolution."""
    imgs = synth.images_meta_df(spark, 150)
    rois = synth.rois_df(spark, 5)
    got = sorted(
        (r["image_id"], r["roi_id"])
        for r in sj.filter_bounds(imgs, rois, res=res).collect()
    )
    want = [tuple(r) for r in _oracle_pairs(150, 5)]
    assert got == want


def test_filter_bounds_parallelism_invariant(spark):
    """North-rule invariant: identical join output at different partitioning."""
    imgs = synth.images_meta_df(spark, 200)
    rois = synth.rois_df(spark, 6)
    a = sorted(map(tuple, sj.filter_bounds(imgs.repartition(1), rois).collect()))
    b = sorted(map(tuple, sj.filter_bounds(imgs.repartition(16), rois).collect()))
    assert a == b


def test_filter_bounds_semi(spark):
    imgs = synth.images_meta_df(spark, 200)
    rois = synth.rois_df(spark, 6)
    kept = sj.filter_bounds_semi(imgs, rois)
    matched_ids = {r["image_id"] for r in sj.filter_bounds(imgs, rois).collect()}
    assert {r["image_id"] for r in kept.select("image_id").collect()} == matched_ids
    assert set(kept.columns) == set(imgs.columns)


def test_geo_filter_bounds_across_antimeridian(spark):
    """Footprints and an ROI straddling ±180°: the geo join finds the
    wrap matches the planar grid structurally cannot."""
    import numpy as np

    from tests.reference import geometry

    images = spark.createDataFrame(
        [
            ("W", 178.0, -2.0, 179.5, 2.0),     # west of the seam
            ("E", -179.5, -2.0, -178.0, 2.0),   # east of the seam
            ("X", 179.0, -2.0, -179.0, 2.0),    # crossing footprint
            ("F", 10.0, -2.0, 12.0, 2.0),       # far away
        ],
        "image_id string, x0 double, y0 double, x1 double, y1 double",
    )
    rois = spark.createDataFrame(
        [("R", 179.2, -5.0, -179.2, 5.0)],      # ROI crossing the seam
        "roi_id string, rx0 double, ry0 double, rx1 double, ry1 double",
    )
    got = {r["image_id"] for r in sj.filter_bounds(images, rois, geo=True).collect()}
    assert got == {"W", "E", "X"}
    semi = {r["image_id"]
            for r in sj.filter_bounds_semi(images, rois, geo=True).collect()}
    assert semi == {"W", "E", "X"}

    # Catalyst arc refine == numpy twin on random (possibly crossing) arcs
    rng = np.random.default_rng(7)
    a = rng.uniform(-180, 180, size=(200, 4))
    want = geometry.geo_bbox_intersects(
        a[:, 0], -1.0, a[:, 1], 1.0, a[:, 2], -1.0, a[:, 3], 1.0
    )
    import pandas as pd
    from pyspark.sql import functions as F
    df = spark.createDataFrame(
        pd.DataFrame(a, columns=["ax0", "ax1", "bx0", "bx1"])
    )
    got_col = [
        r["i"] for r in df.select(
            sj.geo_bbox_intersects_col(
                F.col("ax0"), F.lit(-1.0), F.col("ax1"), F.lit(1.0),
                F.col("bx0"), F.lit(-1.0), F.col("bx1"), F.lit(1.0),
            ).alias("i")
        ).collect()
    ]
    assert got_col == want.tolist()


def test_nearest_roi_assignment(spark):
    """Known geometry: image centred at (5,5) is closest to ROI A
    (centre 0,0) over B (centre 20,0); an exact-tie image picks the
    lexicographically smaller roi_id; empty ROI table raises; plan has
    no join/exchange (constant-array fold)."""
    import pytest as _pytest

    from geedim_spark.operators import spatial_join as sj

    images = spark.createDataFrame(
        [("I1", 0.0, 0.0, 10.0, 10.0),     # centre (5,5): A
         ("I2", 15.0, -5.0, 25.0, 5.0),    # centre (20,0): B exactly
         ("I3", 5.0, -5.0, 15.0, 5.0)],    # centre (10,0): tie A vs B
        "image_id string, x0 double, y0 double, x1 double, y1 double")
    rois = spark.createDataFrame(
        [("B", 15.0, -5.0, 25.0, 5.0), ("A", -5.0, -5.0, 5.0, 5.0)],
        "roi_id string, rx0 double, ry0 double, rx1 double, ry1 double")
    out = {r["image_id"]: r for r in sj.nearest_roi(images, rois).collect()}
    assert out["I1"]["roi_id"] == "A" and out["I1"]["d2"] == 50.0
    assert out["I2"]["roi_id"] == "B" and out["I2"]["d2"] == 0.0
    assert out["I3"]["roi_id"] == "A"   # exact tie -> smaller id
    with _pytest.raises(ValueError, match="empty"):
        sj.nearest_roi(images, rois.filter("roi_id = 'Z'"))
    plan = (sj.nearest_roi(images, rois)._jdf.queryExecution()
            .executedPlan().toString())
    assert "Exchange" not in plan and "Join" not in plan
