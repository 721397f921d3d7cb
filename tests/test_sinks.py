"""Secondary sinks: structured dtype view, medoid cap."""

from __future__ import annotations

import numpy as np
import pandas as pd

from geedim_spark import codecs
from geedim_spark.operators import composite as comp
from geedim_spark.sources import sinks


def test_to_structured_view():
    arr = np.arange(2 * 3 * 4).reshape(2, 3, 4).astype(np.uint16)
    s = sinks.to_structured(arr, ["B2", "B3"])
    assert s.shape == (3, 4) and s.dtype.names == ("B2", "B3")
    assert np.array_equal(s["B3"], arr[1])


def test_medoid_stack_cap(spark):
    rows = []
    base = pd.Timestamp("2024-01-01")
    for i in range(10):
        px = np.full((2, 6, 6), i + 1, np.uint16)
        rows.append({
            "image_id": f"IMG/{i:08d}", "bytes": codecs.encode_raw(px),
            "collection": "MOCK/CONST",
            "time_start": base + pd.Timedelta(hours=i),
        })
    images = spark.createDataFrame(pd.DataFrame(rows))
    out = comp.composite_collection(images, "medoid", medoid_max_stack=4).first()
    # capped stack keeps the 4 newest (v=7..10); single-band medoid of
    # {7,8,9,10} picks 8 (ties by earlier stack index = larger i -> 9?
    # sumdist: 7:2+1+... values {10,9,8,7}: d(10)=1+2+3=6, d(9)=1+1+2=4,
    # d(8)=2+1+1=4, d(7)=3+2+1=6 -> tie 9 vs 8, earlier stack index wins:
    # stack sorted desc -> 10,9,8,7 -> 9
    px = codecs.decode(bytes(out["bytes"]))
    assert (px[0] == 9).all()
    assert out["n_inputs"] == 10  # inputs counted pre-cap


def test_write_image_files_distributed_sink(spark, tmp_path):
    """K1: per-image .npy files written executor-side; round-trip equals
    the driver-side assembly."""
    import numpy as np
    from geedim_spark import synth
    from geedim_spark.operators import export_ops
    from geedim_spark.sources import sinks

    imgs = synth.images_df(spark, 9, scalar_filter="fmt = 'raw'")
    tiles = export_ops.export_tiles(imgs, max_tile_dim=21, max_tile_bands=1)
    out = str(tmp_path / "files")
    manifest = sinks.write_image_files(
        tiles, out, bands=2, h=40, w=40, fmt="npy"
    ).collect()
    assert len(manifest) == imgs.count()
    for r in manifest:
        arr = np.load(r["path"])
        want = export_ops.assemble_image(
            tiles.where(tiles.image_id == r["image_id"]).collect(), 2, 40, 40,
            "uint16")
        assert np.array_equal(arr, want)
        assert r["nbytes"] == arr.nbytes + 128  # npy header


def test_write_image_files_geotiff_sink(spark, tmp_path):
    """K1 GeoTIFF completion: per-image .tif files written executor-side
    carry the affine + EPSG + nodata tags and decode bit-exact."""
    import numpy as np
    from geedim_spark import synth
    from geedim_spark.operators import export_ops
    from geedim_spark.sources import geotiff, sinks

    imgs = synth.images_df(spark, 6, scalar_filter="fmt = 'raw'")
    tiles = export_ops.export_tiles(imgs, max_tile_dim=21, max_tile_bands=1)
    # ride the geo columns along (broadcast meta join on image_id)
    from pyspark.sql import functions as F
    geo = imgs.select("image_id", "transform", "crs")
    tiles = tiles.join(F.broadcast(geo), "image_id")
    out = str(tmp_path / "tifs")
    manifest = sinks.write_image_files(
        tiles, out, bands=2, h=40, w=40, nodata=0
    ).collect()
    assert len(manifest) == imgs.count()
    src = {r["image_id"]: r for r in imgs.select("image_id", "transform").collect()}
    for r in manifest:
        assert r["path"].endswith(".tif")
        arr, meta = geotiff.read_geotiff(r["path"])
        want = export_ops.assemble_image(
            tiles.where(tiles.image_id == r["image_id"]).collect(), 2, 40, 40,
            "uint16")
        assert np.array_equal(arr, want)
        assert meta["crs_epsg"] == 3857 and meta["nodata"] == 0.0
        assert meta["transform"] == [float(t) for t in src[r["image_id"]]["transform"]]


def test_write_image_files_split_bands_transpose(spark, tmp_path):
    """split='bands' is the reference's collection transpose
    (collection.py:465-495): one file per band NAME whose file-bands are
    that band from every image in image_id order."""
    import numpy as np
    from geedim_spark import synth
    from geedim_spark.operators import export_ops
    from geedim_spark.sources import geotiff, sinks
    from pyspark.sql import functions as F

    imgs = synth.images_df(spark, 9, scalar_filter="fmt = 'raw'")
    ids = sorted(r[0] for r in imgs.select("image_id").collect())
    tiles = export_ops.export_tiles(imgs, max_tile_dim=21, max_tile_bands=1)
    geo = imgs.select("image_id", "transform", "crs")
    tiles = tiles.join(F.broadcast(geo), "image_id")
    out = str(tmp_path / "band_tifs")
    manifest = sinks.write_image_files(
        tiles, out, bands=2, h=40, w=40, split="bands",
        band_names=("B1", "QA_PIXEL"), nodata=0,
    ).collect()
    assert sorted(r["image_id"] for r in manifest) == ["B1", "QA_PIXEL"]
    for r in manifest:
        arr, meta = geotiff.read_geotiff(r["path"])
        assert arr.shape == (len(ids), 40, 40)
        b = 0 if r["image_id"] == "B1" else 1
        for i, iid in enumerate(ids):
            want = export_ops.assemble_image(
                tiles.where(tiles.image_id == iid).collect(), 2, 40, 40,
                "uint16")[b]
            assert np.array_equal(arr[i], want), (r["image_id"], iid)
        # geo tags from the first image by id
        first_tf = imgs.where(imgs.image_id == ids[0]).first()["transform"]
        assert meta["transform"] == [float(t) for t in first_tf]


def test_write_image_files_cog_driver(spark, tmp_path):
    """driver='cog' rides through the distributed sink: same decoded
    pixels as gtiff, COG byte order (IFDs at 8, full-res data last)."""
    import numpy as np
    from geedim_spark import synth
    from geedim_spark.operators import export_ops
    from geedim_spark.sources import geotiff
    from tests.test_geotiff import _walk_strip_offsets

    imgs = synth.images_df(spark, 2, scalar_filter="fmt = 'raw'")
    tiles = export_ops.export_tiles(imgs, max_tile_dim=21, max_tile_bands=1)
    from pyspark.sql import functions as F
    geo = imgs.select("image_id", "transform", "crs")
    tiles = tiles.join(F.broadcast(geo), "image_id")
    out = str(tmp_path / "cogs")
    manifest = sinks.write_image_files(
        tiles, out, bands=2, h=40, w=40, nodata=0,
        driver="cog", min_overview_dim=16,
    ).collect()
    assert len(manifest) == 2
    for r in manifest:
        arr, meta = geotiff.read_geotiff(r["path"])
        want = export_ops.assemble_image(
            tiles.where(tiles.image_id == r["image_id"]).collect(),
            2, 40, 40, "uint16")
        assert np.array_equal(arr, want)
        assert meta["n_pages"] > 1  # cog implies overviews
        pages = _walk_strip_offsets(r["path"])
        assert pages[0][0] == 8
        assert min(pages[0][1]) > max(pages[-1][1])  # full-res at the tail
