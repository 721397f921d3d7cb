"""Collection search semantics ported from the reference
(/root/reference/tests/test_collection.py:331-429 filter behaviour)."""

from __future__ import annotations

import pytest

from geedim_spark import synth
from geedim_spark.operators import collection_ops as co
from tests.plans import final_plan, joins_above_python_maps, python_maps


def test_portion_without_region_raises(spark):
    """collection.py:590-594 guard (P7)."""
    imgs = synth.images_meta_df(spark, 10)
    with pytest.raises(ValueError, match="requires a region"):
        co.search(imgs, fill_portion=50.0)


def test_filter_date_default_1ms(spark):
    """end = start + 1 ms default -> only the exact instant survives
    (collection.py:597-599; test_collection.py:354-358)."""
    imgs = synth.images_meta_df(spark, 50)
    hit = co.filter_date(imgs, "2024-01-01 07:00:00")
    assert [r["image_id"] for r in hit.collect()] == ["IMG/00000007"]
    miss = co.filter_date(imgs, "2024-01-01 07:30:00")
    assert miss.count() == 0


def test_date_range_containment_and_sort(spark):
    imgs = synth.images_meta_df(spark, 100)
    out = co.search(imgs, start="2024-01-01 10:00:00", end="2024-01-02 00:00:00")
    rows = out.select("image_id", "time_start").collect()
    assert len(rows) == 14  # hours 10..23
    ts = [r["time_start"] for r in rows]
    assert ts == sorted(ts)  # ascending time sort (collection.py:639)


def test_custom_filter_pre_vs_post(spark):
    """P6: a portion-free custom filter must not require pixel decode (it
    runs against metadata only); portion-referencing filters work too."""
    imgs = synth.images_df(spark, 60, scalar_filter="fmt = 'raw'")
    rois = synth.rois_df(spark, 8)
    pre = co.search(imgs, custom_filter="cast(props['CLOUD_COVER'] as int) <= 50")
    assert pre.count() > 0
    assert "FILL_PORTION" not in pre.columns  # no portion stage ran
    post = co.search(
        imgs, rois=rois, custom_filter="CLOUDLESS_PORTION >= 50",
    )
    assert "CLOUDLESS_PORTION" in post.columns
    for r in post.select("CLOUDLESS_PORTION").collect():
        assert r[0] >= 50


def test_portion_threshold_filtering(spark):
    imgs = synth.images_df(spark, 60, scalar_filter="fmt = 'raw'")
    rois = synth.rois_df(spark, 8)
    # world-spanning threshold test: every returned row satisfies both
    out = co.search(imgs, rois=rois, fill_portion=70.0, cloudless_portion=80.0)
    for r in out.select("FILL_PORTION", "CLOUDLESS_PORTION").collect():
        assert r[0] >= 70 and r[1] >= 80


def test_export_guards(spark):
    """5000-image cap, grid consistency, size warning (collection.py:102,
    421-463; tile.py:193-208 ports)."""
    ok = synth.images_meta_df(spark, 30)
    assert co.check_export_guards(ok) == 30
    mixed = synth.images_meta_df(spark, 10).unionByName(
        synth.images_meta_df(spark, 10, w=64, h=64)
    )
    with pytest.raises(ValueError, match="Inconsistent pixel grids"):
        co.check_export_guards(mixed)
    # per-IMAGE size cap (tile.py:201-208): one 52k-square image is
    # ~10.8 GB raw and warns...
    big = synth.images_meta_df(spark, 5, w=52000, h=52000)
    with pytest.warns(RuntimeWarning, match="10 GB"):
        co.check_export_guards(big)
    # ...but many small images summing past 10 GB do NOT (bulk exports of
    # normal images are fine; the reference warns per image)
    import warnings as _w
    many_small = synth.images_meta_df(spark, 4000, w=1000, h=1000)
    with _w.catch_warnings():
        _w.simplefilter("error", RuntimeWarning)
        co.check_export_guards(many_small)
    too_many = synth.images_meta_df(spark, 5001)
    with pytest.raises(ValueError, match="5000-image cap"):
        co.check_export_guards(too_many)


def test_compatible_collections(spark):
    ok = synth.images_meta_df(spark, 9).filter("collection = 'MOCK/CONST'")
    assert co.check_compatible_collections(ok) == ["MOCK/CONST"]
    mixed = synth.images_meta_df(spark, 9)
    with pytest.raises(ValueError, match="Incompatible"):
        co.check_compatible_collections(mixed)


def test_compatible_collections_landsat(spark):
    """Reference regex semantics (collection.py:65-81): same 2-letter sensor
    prefix + identical suffix with any spacecraft number is compatible;
    different suffix (C01 vs C02) or sensor prefix (LC vs LE) is not."""
    def df(*ids):
        return spark.createDataFrame([(i,) for i in ids], "collection string")

    # Landsat-8 with Landsat-9, Landsat-4 with Landsat-5: compatible
    assert co.check_compatible_collections(
        df("LANDSAT/LC08/C02/T1_L2", "LANDSAT/LC09/C02/T1_L2")
    ) == ["LANDSAT/LC08/C02/T1_L2", "LANDSAT/LC09/C02/T1_L2"]
    assert len(co.check_compatible_collections(
        df("LANDSAT/LT04/C02/T1_L2", "LANDSAT/LT05/C02/T1_L2"))) == 2
    # same spacecraft, different processing suffix: incompatible
    with pytest.raises(ValueError, match="Incompatible"):
        co.check_compatible_collections(
            df("LANDSAT/LC08/C01/T1_L2", "LANDSAT/LC08/C02/T1_L2"))
    # different sensor prefix: incompatible
    with pytest.raises(ValueError, match="Incompatible"):
        co.check_compatible_collections(
            df("LANDSAT/LC08/C02/T1_L2", "LANDSAT/LE07/C02/T1_L2"))
    # landsat + non-landsat: incompatible
    with pytest.raises(ValueError, match="Incompatible"):
        co.check_compatible_collections(
            df("LANDSAT/LC08/C02/T1_L2", "COPERNICUS/S2_SR_HARMONIZED"))


def test_compatible_collections_null_collection(spark):
    """A NULL collection next to a named one is an incompatible mix (the
    loud ValueError), not a TypeError from sorting None against str —
    directly and through the ``Collection.from_images`` facade."""
    from geedim_spark.api import Collection

    df = spark.createDataFrame([("LANDSAT/LC08/C02/T1_L2",), (None,)],
                               "collection string")
    with pytest.raises(ValueError, match="Incompatible"):
        co.check_compatible_collections(df)
    with pytest.raises(ValueError, match="Incompatible"):
        Collection.from_images(Collection(df))
    # NULL alone is one (unnamed) collection, as before
    assert co.check_compatible_collections(df.where("collection IS NULL")) \
        == [None]


def test_compatibility_check_is_anchored(spark):
    """Regression: unanchored regex let ids with extra suffixes/prefixes
    pass as compatible Landsat variants."""
    import pandas as pd

    def frame(ids):
        return spark.createDataFrame(
            pd.DataFrame({"collection": ids, "image_id": range(len(ids))}))

    ok = frame(["LANDSAT/LC08/C02/T1_L2", "LANDSAT/LC09/C02/T1_L2"])
    co.check_compatible_collections(ok)  # genuine variants still pass
    for bad in (
        ["LANDSAT/LC08/C02/T1_L2", "LANDSAT/LC09/C02/T1_L2_EXTRA"],
        ["LANDSAT/LC08/C02/T1_L2", "ALANDSAT/LC09/C02/T1_L2"],
    ):
        with pytest.raises(ValueError, match="Incompatible"):
            co.check_compatible_collections(frame(bad))


def test_portion_filter_without_region_raises(spark):
    """A custom filter NAMING the portion properties needs a region, just
    like the kwargs (collection.py:590-594)."""
    imgs = synth.images_df(spark, 10)
    with pytest.raises(ValueError, match="requires a region"):
        co.search(imgs, custom_filter="CLOUDLESS_PORTION >= 50")


def test_schema_filter_string_props_not_cast():
    """Declared string-typed props (QC flags) must not be cast to double —
    the cast NULLs every row and silently empties the result."""
    out = co.expand_schema_filter(
        "RADQ = 'PASSED' and SAA <= 180", "COPERNICUS/S2_SR_HARMONIZED"
    )
    assert "props['RADIOMETRIC_QUALITY'] = 'PASSED'" in out
    assert "cast(props['MEAN_SOLAR_AZIMUTH_ANGLE'] as double)" in out


def test_revisit_stats_closed_form(spark):
    """Cell (0,0): images at t0, +1h, +3h -> gaps 3600/7200 s; a lone
    image in cell (1,0) reports zero gaps with NULL max."""
    import datetime as dt

    import pytest as _pytest

    from geedim_spark.operators import collection_ops as co

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        (100.0, 200.0, "A", t0),
        (900.0, 300.0, "B", t0 + dt.timedelta(hours=1)),
        (400.0, 800.0, "C", t0 + dt.timedelta(hours=3)),
        (10000.0, 0.0, "D", t0),
    ]
    images = spark.createDataFrame(
        rows, "x0 double, y0 double, image_id string, time_start timestamp")
    out = {(r["cell_x"], r["cell_y"]): r
           for r in co.revisit_stats(images, cell_size=10000.0).collect()}
    c0 = out[(0, 0)]
    assert (c0["n_images"], c0["n_gaps"], c0["max_gap_s"],
            c0["sum_gap_s"]) == (3, 2, 7200, 10800)
    assert c0["mean_gap_s"] == 5400.0
    c1 = out[(1, 0)]
    assert (c1["n_images"], c1["n_gaps"], c1["sum_gap_s"],
            c1["mean_gap_s"]) == (1, 0, 0, 0.0)
    assert c1["max_gap_s"] is None
    with _pytest.raises(ValueError, match="cell_size"):
        co.revisit_stats(images, cell_size=0.0)
    # scale shape: the lag window is PARTITIONED BY the cell key — the
    # windowspecdefinition must name cell_x (a global window would not)
    plan = (co.revisit_stats(images)._jdf.queryExecution()
            .executedPlan().toString())
    spec = [ln for ln in plan.splitlines() if "windowspecdefinition" in ln]
    assert spec and all("cell_x" in ln for ln in spec)


def test_search_keeps_input_multiplicity(spark):
    """A collection holding every image twice (``from_images(c, c)``)
    searches to every matching image twice: the portions ride on each row,
    so nothing joins them back by id and multiplies the duplicates."""
    from geedim_spark.api import Collection

    imgs = synth.images_df(spark, 60).filter("collection LIKE 'LANDSAT/%'")
    c = Collection(imgs)
    kw = dict(rois=synth.rois_df(spark, 60), fill_portion=0.0)
    once = [r["image_id"] for r in c.search(**kw).df.collect()]
    twice = [r["image_id"] for r in Collection.from_images(c, c).search(**kw).df.collect()]
    assert once
    assert sorted(twice) == sorted(once + once)


def test_search_portion_path_passes_rows_through(spark, tmp_path):
    """On the portion path every input column comes back unchanged (a long
    above 2**53 next to a NULL, a NaN double), the portions equal
    mask_stats + with_portions bit for bit, rows come back ascending by
    capture time, and the executed plan runs one Python kernel with no join
    above it."""
    from pyspark.sql import functions as F

    from geedim_spark.operators import masks

    big = 2**53 + 1
    n = F.substring("image_id", 5, 8).cast("long")
    path = str(tmp_path / "images")
    (synth.images_df(spark, 60, scalar_filter="fmt = 'raw'")
     .withColumn("big", F.when(n % 2 == 0, F.lit(big) + n))
     .withColumn("nan", F.when(n % 3 == 0, F.lit(float("nan"))).otherwise(n * 0.5))
     .repartition(4).write.parquet(path))
    images = spark.read.parquet(path)
    assert images.rdd.getNumPartitions() >= 4
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"

    found = co.search(images, start="2024-01-01", end="2025-01-01",
                      rois=synth.rois_df(spark, 60), fill_portion=0.0)
    rows = found.collect()
    assert len(rows) > 4

    want = {r["image_id"]: r for r in images.collect()}
    assert found.columns[-2:] == ["FILL_PORTION", "CLOUDLESS_PORTION"]
    assert sorted(found.columns[:-2]) == sorted(images.columns)
    for r in rows:
        assert repr([r[c] for c in images.columns]) == repr(list(want[r["image_id"]]))
    assert any(r["big"] is None for r in rows)
    assert any(r["big"] is not None and r["big"] > 2**53 for r in rows)
    assert any(r["nan"] != r["nan"] for r in rows)

    ref = {
        r["image_id"]: (r["fill_portion"], r["cloudless_portion"])
        for r in masks.with_portions(masks.mask_stats(images)).collect()
    }
    assert [(r["FILL_PORTION"], r["CLOUDLESS_PORTION"]) for r in rows] == [
        ref[r["image_id"]] for r in rows]
    ts = [r["time_start"] for r in rows]
    assert ts == sorted(ts)

    lines = final_plan(found)
    assert len(python_maps(lines)) == 1 and "MapInPandas" not in "\n".join(lines)
    assert not joins_above_python_maps(lines), "\n".join(lines)
