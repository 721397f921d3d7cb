"""Chained pipeline API — CLI-flow parity (config -> search -> composite ->
download, cli.py:386-396)."""

from __future__ import annotations

import numpy as np
import pytest

from geedim_spark import codecs, synth
from geedim_spark.api import Collection, Image
from geedim_spark.sources import snapshots
from tests.plans import final_plan, joins_above_python_maps, python_maps


def test_chained_search_composite_download(spark, tmp_path):
    rois = synth.rois_df(spark, 4)
    coll = (
        Collection.from_synthetic(spark, 60, scalar_filter="fmt = 'raw'")
        .config(mask_cirrus=False)
        .search(start="2024-01-01", end="2025-01-01", rois=rois)
    )
    assert coll.cloud_kwargs == {"mask_cirrus": False}
    n_found = coll.count()
    assert 0 < n_found <= 45

    comp = coll.composite("mosaic")
    row = comp.df.first()
    assert row["n_inputs"] == n_found
    px = codecs.decode(bytes(row["bytes"]))
    assert px.shape[0] == 2

    meta = coll.composite_metadata("mosaic").first()
    assert meta["system_index"] == "MOSAIC-COMP"


def test_download_with_resume(spark, tmp_path):
    table = str(tmp_path / "dl_table")
    coll = Collection.from_synthetic(spark, 24, scalar_filter="fmt = 'raw'")
    sid1 = coll.download(table, max_tile_dim=21, max_tile_bands=1)
    n1 = snapshots.read_snapshot(spark, table).count()
    assert n1 == coll.count() * 8
    # resume: everything committed -> second call commits nothing new
    sid2 = coll.download(table, max_tile_dim=21, max_tile_bands=1)
    assert snapshots.read_snapshot(spark, table).count() == n1
    assert sid2 != sid1


def test_from_images_compatibility(spark):
    a = Collection.from_synthetic(spark, 30).df.filter("collection = 'MOCK/CONST'")
    b = Collection.from_synthetic(spark, 60).df.filter("collection = 'MOCK/CONST'")
    u = Collection.from_images(Collection(a), Collection(b))
    assert u.count() == a.count() + b.count()
    mixed = Collection(Collection.from_synthetic(spark, 30).df)
    with pytest.raises(ValueError, match="Incompatible"):
        Collection.from_images(mixed)


def test_download_kill_resume_equals_oneshot(spark, tmp_path):
    """North-rule resume: a run that died after committing half the images,
    resumed over the full collection, yields byte-identical tiles to a
    single uninterrupted export — and only processes the missing half."""
    full = Collection.from_synthetic(spark, 16, scalar_filter="fmt = 'raw'")
    ids = sorted(r["image_id"] for r in full.df.select("image_id").collect())
    first_half = Collection(full.df.filter(full.df.image_id.isin(ids[:4])))

    t_resumed = str(tmp_path / "resumed")
    t_oneshot = str(tmp_path / "oneshot")

    sid1 = first_half.download(t_resumed, "image_id", max_tile_dim=21)
    # the "killed" state: exactly the unprocessed images are pending
    pending = snapshots.pending_keys(full.df, t_resumed, "image_id")
    assert sorted(r["image_id"] for r in pending.select("image_id").collect()) \
        == ids[4:]

    sid2 = full.download(t_resumed, "image_id", max_tile_dim=21)
    full.download(t_oneshot, "image_id", max_tile_dim=21)

    def canon(table):
        import hashlib
        rows = snapshots.read_snapshot(spark, table).collect()
        return sorted(
            (r["image_id"], r["band_start"], r["row_start"], r["col_start"],
             hashlib.sha1(bytes(r["tile_bytes"])).hexdigest())
            for r in rows
        )

    assert canon(t_resumed) == canon(t_oneshot)
    # snapshot lineage: resume commit chains onto the partial commit
    snap = snapshots.current_snapshot(t_resumed)
    assert snap["snapshot_id"] == sid2 and snap["parent_id"] == sid1
    # nothing pending after the resume
    assert snapshots.pending_keys(full.df, t_resumed, "image_id").count() == 0


def test_image_facade_mask_export_roundtrip(spark, tmp_path):
    """Image surface: from_id -> config -> mask_clouds -> prepare_for_export
    -> to_numpy, matching the reference's MaskedImage/accessor chain."""
    import numpy as np
    from geedim_spark.api import Image

    path = str(tmp_path / "imgs")
    synth.images_df(spark, 30).write.parquet(path)
    # i=7: landsat (7%3=1), raw (7%4=3? no — 7%4=3 -> dct8).  use i=4:
    # 4%3=1 landsat, 4%4=0 raw, f_px=(4%5)*4=16, c_px=(4%7)*2=8, v=5
    img = Image.from_id(spark, path, "IMG/00000004")
    assert img.df.count() == 1

    stats = img.add_mask_bands().first()
    assert stats["FILL_PORTION" if "FILL_PORTION" in img.add_mask_bands().columns
                 else "fill_portion"] == (40 - 16) / 40 * 100

    masked = img.mask_clouds()
    px = codecs.decode(bytes(masked.df.first()["bytes"]))
    # cloud strip (last 8 cols) forced to nodata in B1
    assert (px[0, :, -8:] == codecs.NODATA_VALS["uint16"]).all()
    assert (px[0, :, 16:32] == 5).all()

    out = img.prepare_for_export(
        scale_offset={0: (2.0, 1.0)}, dtype="uint32", band_regex="B1"
    ).to_numpy("IMG/00000004", bands=1, h=40, w=40, dtype="uint32")
    assert out.dtype == np.uint32
    assert (out[0, :, 16:] == 5 * 2 + 1).all()
    assert (out[0, :, :16] == 1).all()  # nodata 0 scaled: 0*2+1


def test_composite_tiled_equals_operator(spark):
    """api.Collection.composite_tiled is one operators.composite.
    composite_tiled call for every method: q-mosaic (clamp and scale
    forwarded) and mean match the operator bit-for-bit."""
    from geedim_spark.operators import composite as comp_ops

    coll = Collection.from_synthetic(
        spark, 40, scalar_filter="fmt = 'raw' AND i % 3 = 1"
    )

    def canon(df):
        return sorted(
            (r["tr"], r["tc"], bytes(r["bytes"]), r["n_inputs"])
            for r in df.collect()
        )

    for method, kw in [("q-mosaic", {"scale": synth.SCALE, "max_cloud_dist": 200.0}),
                       ("mean", {})]:
        got = coll.composite_tiled(method, tile_h=16, tile_w=16, **kw)
        want = comp_ops.composite_tiled(
            comp_ops.sort_for_composite(coll.df, method), method,
            tile_h=16, tile_w=16, **kw,
        )
        assert canon(got) == canon(want), method


def test_composite_tiled_qmosaic_leaves_no_cache_or_join(spark):
    """The default q-mosaic decodes each image once and reduces its tiles:
    no join above a Python map node, nothing left in Spark's cache and no
    handle hung on the frame."""
    spark.catalog.clearCache()  # what earlier tests cached is not this call's
    out = Collection.from_synthetic(
        spark, 12, scalar_filter="fmt = 'raw' AND i % 3 = 1"
    ).composite_tiled("q-mosaic")
    assert out.collect()
    lines = final_plan(out)
    assert not joins_above_python_maps(lines), "\n".join(lines)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    assert not hasattr(out, "_tile_cache")


def test_image_metadata_accessor_surface(spark):
    """ImageAccessor property parity (image.py:247-434): every metadata
    accessor resolves from one bounded driver pull with the synthetic
    closed-form values."""
    from geedim_spark import synth
    from geedim_spark.api import Image

    img = Image(synth.images_df(spark, 9, scalar_filter="fmt = 'raw'"))
    assert img.id == "IMG/00000000"
    assert img.index == "00000000"
    assert img.crs == "EPSG:3857"
    assert img.scale == synth.SCALE
    assert img.shape == (40, 40)
    assert img.count == 2
    assert img.dtype == "uint16"
    assert img.nodata == 0
    assert img.size == 40 * 40 * 2 * 2
    assert img.band_names == ["B1", "QA_PIXEL"]  # i=0 is MOCK/CONST
    assert img.spec_bands == ["B1"]
    assert img.cloud_support is False            # MOCK has no cloud bands
    assert img.fixed and img.bounded
    prof = img.profile
    assert prof["width"] == 40 and prof["dtype"] == "uint16"
    assert prof["transform"][0] == synth.SCALE
    geom = img.geometry
    assert geom["type"] == "Polygon" and len(geom["coordinates"][0]) == 5
    assert img.date is not None and img.properties["system:index"] == "00000000"

    # an S2 row (i % 3 == 2) reports cloud support + the S2 band family
    s2 = Image(synth.images_df(spark, 9, scalar_filter="fmt = 'raw' AND i % 3 = 2"))
    assert s2.cloud_support is True
    assert s2.band_names == ["B1", "QA60"]

    # a composite-like frame without transform: not fixed
    nofix = Image(synth.images_df(spark, 3, scalar_filter="fmt = 'raw'")
                  .drop("transform"))
    assert nofix.fixed is False

    # empty frame: every accessor degrades to None/False, no crash
    empty = Image(synth.images_df(spark, 3).where("1=0"))
    assert empty.id is None and empty.shape is None
    assert empty.fixed is False and empty.bounded is False


# (name, Collection -> frame, kernel passes it adds): every api method that
# runs a per-image kernel over the image rows
_PER_IMAGE_METHODS = [
    ("Image.mask_clouds", lambda c: Image(c.df).mask_clouds().df, 1),
    ("Image.prepare_for_export",
     lambda c: Image(c.df).prepare_for_export(dtype="uint8").df, 1),
    ("Image.prepare_for_export(band_regex)",
     lambda c: Image(c.df).prepare_for_export(band_regex="B1").df, 1),
    ("Collection.prepare_for_export(dtype)",
     lambda c: c.prepare_for_export(dtype="uint8").df, 1),
    ("Collection.prepare_for_export(scale_offset, scale)",
     lambda c: c.prepare_for_export(scale_offset={0: (2.0, 1.0)}, scale=20.0).df, 2),
]
_per_image_method = pytest.mark.parametrize(
    "name, method, passes", _PER_IMAGE_METHODS, ids=[m[0] for m in _PER_IMAGE_METHODS])


def test_image_prepare_for_export_keeps_the_row(spark):
    """Image.prepare_for_export without grid kwargs returns the whole image
    row, so a chained mask_clouds finds its collection column; with an
    identity cast the masked pixels equal masks.mask_clouds'."""
    from geedim_spark.operators import masks

    img = Image(Collection.from_synthetic(spark, 6, scalar_filter="fmt = 'raw'").df)
    out = img.prepare_for_export(dtype="uint16").mask_clouds().df
    assert out.columns == img.df.columns
    want = {r["image_id"]: bytes(r["bytes"]) for r in masks.mask_clouds(img.df).collect()}
    rows = out.collect()
    assert len(rows) == len(want) > 0
    for r in rows:
        assert r["fmt"] == "raw" and bytes(r["bytes"]) == want[r["image_id"]]


@pytest.fixture(scope="module")
def twice(spark):
    """(ids, ``from_images(c, c)``): a Landsat collection holding every id twice."""
    c = Collection.from_synthetic(spark, 12, scalar_filter="fmt = 'raw'")
    c = Collection(c.df.filter("collection LIKE 'LANDSAT/%'"))
    ids = sorted(r["image_id"] for r in c.df.select("image_id").collect())
    assert len(ids) >= 2
    return ids, Collection.from_images(c, c)


@_per_image_method
def test_per_image_method_keeps_row_and_multiplicity(twice, name, method, passes):
    """Over ``from_images(c, c)`` the method returns every input column
    and 2 rows per id: no kernel output is joined back on image_id."""
    from pyspark.sql import functions as F

    ids, cc = twice
    out = method(cc)
    assert out.columns[:len(cc.df.columns)] == cc.df.columns
    per_id = out.groupBy("image_id").agg(F.count(F.lit(1)).alias("n")).collect()
    assert sorted((r["image_id"], r["n"]) for r in per_id) == [(i, 2) for i in ids]


def test_download_keeps_multiplicity(spark, twice, tmp_path):
    """download over ``from_images(c, c)`` writes each image's 8 tiles
    twice, not once per (tile, duplicate) pair."""
    ids, cc = twice
    table = str(tmp_path / "twice")
    cc.download(table, max_tile_dim=21, max_tile_bands=1)
    assert snapshots.read_snapshot(spark, table).count() == 2 * len(ids) * 8


def test_download_partition_key_is_exact(spark, tmp_path):
    """A partition key the tiles do not carry rides through the tile
    kernel unchanged: a long above 2**53 beside a NULL keeps every
    digit."""
    from pyspark.sql import functions as F

    big = F.when(F.col("i") % 2 == 0, F.col("i") + 2**53 + 1)
    c = Collection(synth.images_df(spark, 8, scalar_filter="fmt = 'raw'").withColumn("k", big))
    table = str(tmp_path / "keyed")
    c.download(table, "k")
    want = sorted((r["k"] or 0, r["image_id"]) for r in c.df.collect())
    got = snapshots.read_snapshot(spark, table).select("k", "image_id").distinct()
    assert sorted((r["k"] or 0, r["image_id"]) for r in got.collect()) == want
    assert any(k > 2**53 and k % 2 for k, _ in want) and any(k == 0 for k, _ in want)


@pytest.fixture(scope="module")
def found(spark, tmp_path_factory):
    """A portion search over 60 staged images."""
    path = str(tmp_path_factory.mktemp("found") / "images")
    synth.images_df(spark, 60, scalar_filter="fmt = 'raw'").repartition(4) \
        .write.parquet(path)
    out = Collection.from_parquet(spark, path).search(
        start="2024-01-01", end="2025-01-01", rois=synth.rois_df(spark, 60),
        fill_portion=0.0)
    assert out.count() > 4
    return out


def _assert_runs_search_once(out, passes):
    """``out``'s executed plan holds search's kernel once plus ``passes``
    kernels of its own, with no join above any Python map node."""
    out.collect()
    lines = final_plan(out)
    assert len(python_maps(lines)) == 1 + passes, "\n".join(lines)
    assert not joins_above_python_maps(lines), "\n".join(lines)


@_per_image_method
def test_per_image_method_runs_search_once(found, name, method, passes):
    _assert_runs_search_once(method(found), passes)


def test_download_runs_search_once(found, tmp_path, monkeypatch):
    written = []
    write = snapshots.write_snapshot
    monkeypatch.setattr(snapshots, "write_snapshot",
                        lambda df, *a, **k: written.append(df) or write(df, *a, **k))
    found.download(str(tmp_path / "tiles"))
    _assert_runs_search_once(written[0], 1)
