"""Export oracles — the reference's golden-array pattern
(/root/reference/tests/conftest.py:429-467 prepared_image;
test_image.py:500-603; test_tile.py:264-294 forced 2x2x2 split)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from geedim_spark import codecs
from geedim_spark.functions.dtypes import cast_pixels
from geedim_spark.operators import export_ops, resample
from geedim_spark.sources import snapshots as snap


def prepared_image_array() -> np.ndarray:
    """The numpy twin: 3 uint8 bands of constants (1,2,3), 20x20, 5-px
    masked (0) border — conftest.py:429-467 port."""
    px = np.zeros((3, 20, 20), dtype=np.uint8)
    for b in range(3):
        px[b, 5:15, 5:15] = b + 1
    return px


@pytest.fixture
def prepared_images(spark):
    golden = prepared_image_array()
    rows = [
        {"image_id": "PREP/00000000", "caption": "caption-prep-0",
         "bytes": codecs.encode_raw(golden)},
        {"image_id": "PREP/00000001", "caption": "caption-prep-1",
         "bytes": codecs.encode_raw((golden + 3) * (golden > 0))},
    ]
    return spark.createDataFrame(pd.DataFrame(rows)), golden


def test_export_roundtrip_bit_exact(spark, prepared_images):
    """Export -> tiles -> assemble == golden array, bit for bit."""
    images, golden = prepared_images
    tiles = export_ops.export_tiles(
        images, max_tile_size=4, max_tile_dim=11, max_tile_bands=2
    )
    rows = tiles.collect()
    by_img = {}
    for r in rows:
        by_img.setdefault(r["image_id"], []).append(r)
    # forced 2x2x2 split -> 8 tiles (test_tile.py:277-284 port)
    assert len(by_img["PREP/00000000"]) == 8
    out = export_ops.assemble_image(by_img["PREP/00000000"], 3, 20, 20, "uint8")
    assert np.array_equal(out, golden)
    out2 = export_ops.assemble_image(by_img["PREP/00000001"], 3, 20, 20, "uint8")
    assert np.array_equal(out2, (golden + 3) * (golden > 0))
    # caption equality through the export path (input_hint invariant)
    assert {r["caption"] for r in by_img["PREP/00000000"]} == {"caption-prep-0"}


def test_export_snapshot_commit_and_resume(spark, prepared_images, tmp_path):
    images, golden = prepared_images
    tiles = export_ops.export_tiles(images, max_tile_dim=11, max_tile_bands=2)
    table = str(tmp_path / "export_table")
    snap.write_snapshot(tiles, table, "image_id")
    back = snap.read_snapshot(spark, table)
    assert back.count() == 16
    # resume: everything committed -> nothing pending
    pending = snap.pending_keys(images, table, "image_id")
    assert pending.count() == 0


def test_prepare_for_export_scale_offset_dtype(spark, prepared_images):
    images, golden = prepared_images
    out = export_ops.prepare_for_export(
        images, scale_offset={0: (2.0, 10.0)}, dtype="uint16"
    ).filter("image_id = 'PREP/00000000'").first()
    px = codecs.decode(bytes(out["bytes"]))
    assert px.dtype == np.uint16
    assert (px[0] == golden[0].astype(np.uint16) * 2 + 10).all()
    assert (px[1] == golden[1]).all()  # untouched band passes through


def test_cast_pixels_saturates():
    px = np.array([[-5.0, 300.0, 42.0]])
    assert cast_pixels(px, "uint8").tolist() == [[0, 255, 42]]


def test_resample_kernels():
    px = prepared_image_array()
    up = resample.resample(px, 40, 40, "bilinear")
    assert up.shape == (3, 40, 40)
    # constant interior stays constant under interpolation
    assert np.allclose(up[0, 14:26, 14:26], 1.0)
    down = resample.resample(px.astype(float), 10, 10, "average")
    assert down.shape == (3, 10, 10)
    # 2x2 block means: interior blocks of band 2 average to 3
    assert np.allclose(down[2, 3:7, 3:7], 3.0)
    cub = resample.resample(px, 40, 40, "bicubic")
    assert cub.shape == (3, 40, 40)
    assert np.allclose(cub[0, 16:24, 16:24], 1.0, atol=1e-9)
    with pytest.raises(ValueError, match="unknown resampling"):
        resample.resample(px, 10, 10, "nearest??")


def test_resample_nodata_aware_no_halos():
    """Mask-aware resampling (normalised convolution): nodata pixels never
    blend into valid neighbours and unsupported outputs become nodata."""
    import numpy as np

    from geedim_spark.operators import resample as rs

    px = np.full((1, 8, 8), 100, np.uint16)
    px[0, :, :4] = 0  # nodata half
    out = rs.resample(px, 4, 4, "bilinear", nodata=0)
    # valid half stays exactly 100 (no dark halo at the boundary)
    assert np.all(out[0, :, 2:] == 100.0)
    # fully-nodata outputs stay nodata
    assert np.all(out[0, :, 0] == 0.0)

    # float dtype: NaN and -inf style nodata must not propagate
    fpx = np.full((1, 8, 8), 7.5, np.float64)
    fpx[0, :, :4] = -np.inf
    outf = rs.resample(fpx, 4, 4, "average", nodata=-np.inf)
    assert np.all(outf[0, :, 2:] == 7.5)
    assert np.all(np.isinf(outf[0, :, 0]))

    # default (nodata=None) keeps the raw blending semantics: a 3-wide
    # output samples position 3.5, straddling the nodata|valid boundary
    raw = rs.resample(px, 3, 3, "bilinear")
    assert 0.0 < raw[0, 0, 1] < 100.0  # blends toward 0
    # ...while the mask-aware form keeps it exactly 100
    aware = rs.resample(px, 3, 3, "bilinear", nodata=0)
    assert aware[0, 0, 1] == 100.0

    # bicubic variant: interior valid pixels unchanged, no halo leak
    outc = rs.resample(px, 4, 4, "bicubic", nodata=0)
    assert np.all(np.abs(outc[0, :, 3] - 100.0) < 1e-9)


def test_cast_pixels_unsupported_dtype_raises():
    """toDType('int64') raises in the reference (test_image.py:254-258,
    'Unsupported dtype' — image.py:66-73 defines no nodata for 64-bit
    ints); a silent cast would emit a table whose nodata convention no
    kernel understands."""
    import numpy as np
    import pytest

    from geedim_spark.functions.dtypes import cast_pixels

    px = np.ones((1, 4, 4), np.uint16)
    for bad in ("int64", "uint64", "complex64", "bool"):
        with pytest.raises(ValueError, match="Unsupported dtype"):
            cast_pixels(px, bad)
    assert cast_pixels(px, "uint8").dtype == np.uint8  # supported path OK


def test_pixel_histogram_bands_and_errors(spark):
    """Band 1 (QA) histogram on a known strip image + out-of-range band
    raises inside the kernel."""
    import pytest as _pytest

    from geedim_spark import synth
    from geedim_spark.operators import export_ops

    imgs = synth.images_df(spark, 8, scalar_filter="fmt = 'raw'")
    # i=2: c_px=(2%7)*2=4, qa bit 10 (i%3==2) -> band1 has 0 and 1024
    rows = {(r["image_id"], r["value"]): r["n_px"]
            for r in export_ops.pixel_histogram(imgs, band=1).collect()}
    assert rows[("IMG/00000002", 1024)] == 4 * 40
    assert rows[("IMG/00000002", 0)] == (40 - 4) * 40
    # i=0: c_px=0 -> all zeros
    assert rows[("IMG/00000000", 0)] == 40 * 40
    with _pytest.raises(ValueError, match="band must be"):
        export_ops.pixel_histogram(imgs, band=-1)
    with _pytest.raises(Exception, match="out of range"):
        export_ops.pixel_histogram(imgs, band=7).collect()


# -- the shared per-row Arrow kernel layer (geedim_spark.kernels) -------------

def _zones(spark):
    """One zone covering the left half of IMG/00000001's footprint."""
    from geedim_spark import synth

    r = synth.images_meta_df(spark, 2).filter(
        "image_id = 'IMG/00000001'").first()
    xm = (r["x0"] + r["x1"]) / 2
    poly = [[r["x0"], r["y0"]], [xm, r["y0"]], [xm, r["y1"]], [r["x0"], r["y1"]]]
    return spark.createDataFrame(
        [("Z1", poly)], "zone_id string, poly array<array<double>>")


def _kernel_cases():
    """(id, input, operator, declared schema) for every operator built on
    ``kernels.map_rows``.  Inputs: 'landsat' is one Landsat image row,
    's2' one Sentinel-2 image row with score/prob/CDI match rows, 'ids'
    one strip-mock id."""
    from geedim_spark import synth
    from geedim_spark.operators import (composite, masks, multimodal,
                                        pipeline, reproject, stencil, zonal)

    stats = masks._STATS_SCHEMA
    tiles = ("image_id string, caption string, band_start int, "
             "band_stop int, row_start int, row_stop int, col_start int, "
             "col_stop int")
    grid = ["image_id", "bytes", "crs", "transform", "w", "h", "fmt", "caption"]
    return [
        ("mask_stats", "landsat", lambda df: masks.mask_stats(df), stats),
        ("s2_score_mask_stats", "s2",
         lambda df: masks.s2_score_mask_stats(
             df, synth.scores_df(df.sparkSession, 8)),
         "image_id string, total_px long, fill_px long, cloudless_px long, "
         "score_matched boolean"),
        ("s2_prob_mask_stats", "s2",
         lambda df: masks.s2_prob_mask_stats(
             df, synth.probs_df(df.sparkSession, 8)),
         "image_id string, total_px long, fill_px long, cloudless_px long, "
         "prob_matched boolean"),
        ("cdi_mask_stats", "s2",
         lambda df: masks.cdi_mask_stats(df, synth.cdi_df(df.sparkSession, 8)),
         "image_id string, cloud_px long, cloudless_px long, "
         "cdi_matched boolean"),
        ("cloud_dist_stats", "landsat",
         lambda df: masks.cloud_dist_stats(df, decimate=2),
         "image_id string, dist_sum long"),
        ("mask_clouds", "landsat", lambda df: masks.mask_clouds(df),
         "image_id string, bytes binary, fmt string"),
        ("landsat_param_stats", "ids", masks.landsat_param_stats,
         masks._PARAM_STATS_SCHEMA),
        ("s2_shadow_param_stats", "ids", masks.s2_shadow_param_stats,
         masks._SHADOW_STATS_SCHEMA),
        ("mask_and_tile", "landsat",
         lambda df: pipeline.mask_and_tile(
             df, max_tile_size=0.001, focal_open_px=1, focal_dilate_px=2),
         tiles + ", fill_px long, cloudless_px long, dist_sum long, "
         "tile_bytes binary"),
        ("export_tiles", "landsat",
         lambda df: export_ops.export_tiles(df, max_tile_size=0.001),
         tiles + ", tile_bytes binary"),
        ("select_bands", "landsat",
         lambda df: export_ops.select_bands(df, "QA_PIXEL"),
         "image_id string, caption string, bytes binary, n_bands int"),
        ("prepare_for_export", "landsat",
         lambda df: export_ops.prepare_for_export(
             df, scale_offset={0: (0.5, 3.0)}, dtype="uint8"),
         "image_id string, caption string, bytes binary"),
        ("pixel_histogram", "landsat",
         lambda df: export_ops.pixel_histogram(df, band=1),
         "image_id string, value long, n_px long"),
        ("mask_tiles", "landsat",
         lambda df: stencil.mask_tiles(df, 16, 16),
         "image_id string, tr int, tc int, n_tr int, n_tc int, "
         "tile_bytes binary"),
        ("zonal_stats", "landsat",
         lambda df: zonal.zonal_stats(df, _zones(df.sparkSession)),
         "image_id string, zone_id string, n_px long, sum_val double, "
         "min_val double, max_val double, mean_val double"),
        ("reproject_images", "landsat",
         lambda df: reproject.reproject_images(
             df.select(*grid), scale=15.0, resampling="bilinear"),
         "image_id string, bytes binary, crs string, "
         "transform array<double>, w int, h int, fmt string, "
         "caption string"),
        ("image_features", "landsat", multimodal.image_features,
         "image_id string, band_means array<double>, "
         "band_stds array<double>, phash long"),
        ("pixel_tiles", "landsat",
         lambda df: composite._pixel_tiles(df, 16, 16, {}),
         "image_id string, sort_key double, tr int, tc int, n_tr int, "
         "n_tc int, tile_bytes binary, valid_bytes binary"),
    ]


# sha256 prefixes of repr(collected rows) on the one-row inputs, recorded
# from the per-operator kernels that map_rows replaced: a changed digest
# means an operator's output rows (values or order) changed
_KERNEL_DIGESTS = {
    "mask_stats": "f74c3bd896d66478",
    "s2_score_mask_stats": "3b3bbbe10564edcf",
    "s2_prob_mask_stats": "d50202f93ab3f37a",
    "cdi_mask_stats": "aab008a79a79b0c0",
    "cloud_dist_stats": "fc3234b75c3e87d1",
    "mask_clouds": "c5d89d821aec6f37",
    "landsat_param_stats": "1ef82b3f22514ec9",
    "s2_shadow_param_stats": "7db327d809023f9c",
    "mask_and_tile": "2d82ee517e8ff78c",
    "export_tiles": "9f8bbf1a261d0bf2",
    "select_bands": "f2de912ac0ca1fe7",
    "prepare_for_export": "c60b227240d99013",
    "pixel_histogram": "b57d87fae5665fb0",
    "mask_tiles": "9b221eaec5813bd8",
    "zonal_stats": "cfe580db696108ea",
    "reproject_images": "59b19e497abe11d1",
    "image_features": "cf68c7b608fb55fc",
    "pixel_tiles": "05be680901c0d5f3",
}


@pytest.fixture(scope="module")
def kernel_inputs(spark):
    from geedim_spark import synth

    imgs = synth.images_df(spark, 8)
    return {
        "landsat": imgs.filter("image_id = 'IMG/00000001'"),
        "s2": imgs.filter("image_id = 'IMG/00000002'"),
        "ids": spark.range(1, 2).withColumnRenamed("id", "image_id"),
    }


@pytest.mark.parametrize(
    "case", _kernel_cases(), ids=lambda c: c[0])
def test_map_rows_operators_schema_and_rows(spark, kernel_inputs, case):
    """Every map_rows operator returns exactly its declared schema on an
    empty input, and the recorded rows on a one-row input."""
    import hashlib

    from pyspark.sql.types import StructType

    name, src, op, ddl = case
    want = [(f.name, f.dataType) for f in StructType.fromDDL(ddl).fields]
    empty = op(kernel_inputs[src].limit(0))
    assert [(f.name, f.dataType) for f in empty.schema.fields] == want
    assert empty.collect() == []
    rows = op(kernel_inputs[src]).collect()
    assert rows
    digest = hashlib.sha256(repr([tuple(r) for r in rows]).encode()).hexdigest()
    assert digest[:16] == _KERNEL_DIGESTS[name]


def test_per_image_operators_use_map_rows():
    """The per-image raster operators run through the one per-row driver,
    kernels.map_rows on Arrow: through kernels.with_columns when they keep
    the image row (mask, band-select, scale/cast or reproject its blob in
    place), directly when they emit stats or tiles, with ``keep`` carrying
    any key through as Arrow.  A direct mapInPandas/mapInArrow call in
    these modules (in composite: in _pixel_tiles) is a new per-operator
    copy of the driver's batch loop."""
    import ast
    import inspect

    from geedim_spark.operators import (composite, masks, multimodal,
                                        pipeline, reproject, stencil, zonal)

    sources = {
        m.__name__: inspect.getsource(m)
        for m in (masks, pipeline, export_ops, stencil, zonal, reproject,
                  resample, multimodal)
    }
    sources["composite._pixel_tiles"] = inspect.getsource(composite._pixel_tiles)
    for where, src in sources.items():
        calls = [
            n.lineno for n in ast.walk(ast.parse(src))
            if isinstance(n, ast.Attribute) and n.attr in ("mapInPandas", "mapInArrow")
        ]
        assert not calls, f"{where} calls a Spark map API at lines {calls}"
