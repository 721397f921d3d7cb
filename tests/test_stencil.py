"""Halo-join stencils: tiled result == whole-image computation, bit for bit,
when halo >= clamp reach (SURVEY §7.3 hard part 1)."""

from __future__ import annotations

import numpy as np
import pandas as pd

from geedim_spark import codecs
from geedim_spark.operators import masks, stencil
from tests.reference.stencil import assemble_tiles


def _landsat_rows(fill: np.ndarray, cloud: np.ndarray) -> pd.DataFrame:
    """One Landsat image whose B1 carries ``fill`` and whose QA_PIXEL
    cloud bit carries ``cloud`` (mask with ``mask_shadows=False``)."""
    px = np.zeros((2, *fill.shape), np.uint16)
    px[0] = fill.astype(np.uint16) * 7
    px[1][cloud] = 1 << 9
    return pd.DataFrame([{
        "image_id": "IMG/0", "bytes": codecs.encode_raw(px),
        "collection": "LANDSAT/LC09/C02/T1_L2",
    }])


def test_halo_insufficient_is_detectably_different(spark):
    """Sanity: with halo < clamp reach the tile borders differ from the
    whole image — documents why the halo_px contract matters (the exact
    tests are not accidental passes)."""
    rng = np.random.default_rng(21)
    fill = np.ones((37, 43), bool)
    cloud = rng.random((37, 43)) < 0.03  # sparse cloud sources
    tiles = stencil.mask_tiles(
        spark.createDataFrame(_landsat_rows(fill, cloud)), tile_h=16,
        tile_w=16, mask_shadows=False,
    )
    out = stencil.halo_apply(
        tiles, stencil.cloud_dist_code_kernel(1.0, 50.0),  # reach 50 >> halo 4
        halo_px=4, tile_h=16, tile_w=16, out_dtype="float64",
    )
    got = assemble_tiles(out.collect(), 16, 16)
    want = np.floor(np.clip(np.sqrt(masks.edt_squared(cloud)), 0, 50.0))
    assert got.shape == want.shape
    assert not np.array_equal(got, want)


def test_tiled_code_edt_equals_whole_image_fill_semantics(spark):
    """cloud_dist_code_kernel == masks.cloud_dist(fill=...) per tile crop:
    sources are filled-cloudy pixels only; invalid pixels output 0."""
    rng = np.random.default_rng(31)
    h, w = 37, 43
    fill = rng.random((h, w)) > 0.1
    cloud = (rng.random((h, w)) < 0.05) & fill
    cloudless = fill & ~cloud
    tiles = stencil.mask_tiles(
        spark.createDataFrame(_landsat_rows(fill, cloud)), tile_h=16,
        tile_w=16, mask_shadows=False,
    )
    out = stencil.halo_apply(
        tiles, stencil.cloud_dist_code_kernel(1.0, 12.0),
        halo_px=12, tile_h=16, tile_w=16, out_dtype="float64",
    )
    got = assemble_tiles(out.collect(), 16, 16)
    # whole-image EDT with cloud-only sources, floored to the uint16 metre
    # grid (the kernel applies masks.cloud_dist's toUint16 semantics so
    # q-mosaic tie-breaks match the whole-image path)
    want = np.floor(np.clip(np.sqrt(masks.edt_squared(cloud)) * 1.0, 0, 12.0))
    want[~fill] = 0.0
    assert np.array_equal(got, want)
    # and the uint16 export band agrees after the same truncation
    band = masks.cloud_dist(cloudless, scale=1.0, max_cloud_dist=12.0, fill=fill)
    assert np.array_equal(got[fill].astype(np.uint16), band[fill])
