"""Cell-index invariants: the Catalyst covers == their numpy twins
(tests/reference/cells.py); hierarchy; antimeridian wrap."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from geedim_spark import cells
from tests.reference import cells as ref


def test_np_cell_invertible_hierarchical():
    rng = np.random.default_rng(0)
    x = rng.uniform(0, cells.WORLD_SIZE, 1000)
    y = rng.uniform(0, cells.WORLD_SIZE, 1000)
    c7 = ref.np_cell(x, y, 7)
    c5 = ref.np_cell(x, y, 5)
    assert np.array_equal(ref.np_parent(c7, 7, 5), c5)


def test_cover_bbox_contains_corners():
    cover = ref.np_cover_bbox(1000, 2000, 1400, 2400, 7)
    for x, y in [(1000, 2000), (1400, 2400), (1200, 2200)]:
        assert ref.np_cell(np.array([x]), np.array([y]), 7)[0] in cover


def test_spark_cover_matches_numpy(spark):
    df = spark.createDataFrame(
        [(1000.0, 2000.0, 9000.0, 7500.0)], "x0 double, y0 double, x1 double, y1 double"
    )
    got = df.select(
        cells.col_cover_bbox(F.col("x0"), F.col("y0"), F.col("x1"), F.col("y1"), 7)
        .alias("c")
    ).first()["c"]
    want = ref.np_cover_bbox(1000, 2000, 9000, 7500, 7)
    assert sorted(got) == sorted(want.tolist())


def test_geo_lon_wrap_identities():
    """lon and lon+360 share a cell; ±180 coincide; lat clamps at poles."""
    res = 7
    lons = np.array([-180.0, -179.9, 0.0, 179.9, 180.0, 200.0, -160.0])
    lats = np.zeros_like(lons)
    c = ref.np_geo_cell(lons, lats, res)
    assert c[0] == c[4]                      # -180 == +180
    assert c[5] == c[6]                      # 200 == -160 (wrap)
    assert (ref.np_geo_cell(lons + 360.0, lats, res) == c).all()
    # poles clamp, don't wrap
    assert ref.np_geo_iy(np.array([90.0]), res)[0] == (1 << res) - 1
    assert ref.np_geo_iy(np.array([-90.0]), res)[0] == 0


def test_geo_cover_bbox_antimeridian_split():
    res = 5
    n = 1 << res
    cover = ref.np_geo_cover_bbox(170.0, -5.0, -170.0, 5.0, res)
    ixs = sorted(set(int(c) // n for c in cover))
    assert 0 in ixs and n - 1 in ixs                 # both sides of the seam
    assert not any(5 < ix < n - 5 for ix in ixs)     # nothing in the middle


def test_geo_columns_match_numpy(spark):
    """Catalyst geo cover == numpy on wrap-heavy inputs."""
    res = 6
    boxes = [(170.0, -5.0, -170.0, 5.0), (-10.0, -5.0, 10.0, 5.0)]
    bdf = spark.createDataFrame(boxes, "x0 double, y0 double, x1 double, y1 double")
    got_cov = [sorted(r["cov"]) for r in bdf.select(
        cells.col_geo_cover_bbox(F.col("x0"), F.col("y0"), F.col("x1"),
                                 F.col("y1"), res).alias("cov")).collect()]
    want_cov = [sorted(ref.np_geo_cover_bbox(*b, res).tolist()) for b in boxes]
    assert got_cov == want_cov


def test_geo_cover_right_edge_at_seam(spark):
    """Regression: a right edge exactly at lon=180 maps to the LAST column —
    [-180,180] covers the whole globe, [170,180] covers the east strip
    (previously: empty / column-0-only covers)."""
    res = 5
    n = 1 << res
    world = ref.np_geo_cover_bbox(-180.0, -5.0, 180.0, 5.0, res)
    assert sorted(set(int(c) // n for c in world)) == list(range(n))
    strip = ref.np_geo_cover_bbox(170.0, -5.0, 180.0, 5.0, res)
    assert len(strip) > 0
    # 170 sits inside the last column (starts at 168.75 at res=5)
    assert set(int(c) // n for c in strip) == {n - 1}
    # [170, -180] is the same box as [170, 180] (right edge normalised)
    same = ref.np_geo_cover_bbox(170.0, -5.0, -180.0, 5.0, res)
    assert sorted(same.tolist()) == sorted(strip.tolist())

    # Catalyst twin agrees on all three
    boxes = [(-180.0, -5.0, 180.0, 5.0), (170.0, -5.0, 180.0, 5.0),
             (170.0, -5.0, -180.0, 5.0)]
    bdf = spark.createDataFrame(boxes, "x0 double, y0 double, x1 double, y1 double")
    got = [sorted(r["cov"]) for r in bdf.select(
        cells.col_geo_cover_bbox(F.col("x0"), F.col("y0"), F.col("x1"),
                                 F.col("y1"), res).alias("cov")).collect()]
    want = [sorted(ref.np_geo_cover_bbox(*b, res).tolist()) for b in boxes]
    assert got == want


def test_geo_ix_hi_wraps_out_of_contract_lons(spark):
    """Regression: Catalyst % keeps the dividend's sign, so lon > 180
    (0..360-convention data) used to CLAMP to the last column while the
    numpy twin wraps to column 0 — the pmod form must agree with numpy for
    any longitude."""
    import pandas as pd
    from pyspark.sql import functions as F

    from geedim_spark import cells

    lons = [-541.0, -190.0, -180.0, -170.0, 0.0, 170.0, 180.0, 190.0,
            350.0, 541.0]
    pdf = pd.DataFrame({"lon": lons})
    got = (
        spark.createDataFrame(pdf)
        .select(
            cells.col_geo_ix_hi(F.col("lon"), 3).alias("hi"),
            cells.col_geo_ix(F.col("lon"), 3).alias("ix"),
        )
        .toPandas()
    )
    assert got["hi"].tolist() == ref.np_geo_ix_hi(
        np.array(lons), 3).tolist()
    assert got["ix"].tolist() == ref.np_geo_ix(np.array(lons), 3).tolist()
