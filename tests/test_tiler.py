"""Tile-shape + tile-grid oracles ported from the reference
(/root/reference/tests/test_tile.py:115-202, 264-294)."""

from __future__ import annotations

import itertools

import numpy as np
import pytest

from geedim_spark.operators import tiler
from geedim_spark.operators.tiler import explode_tiles, tile_shape
from geedim_spark import synth


def test_tile_shape_properties():
    """Port of test_tile.py:115-157 — size cap, block multiples, lower bound."""
    dtype = "float64"
    dtype_size = np.dtype(dtype).itemsize
    for mts, count, height, width in itertools.product(
        [1, 3, 5], range(1, 1002, 500), range(1, 2002, 500), range(1, 2002, 500)
    ):
        max_bytes = mts * 2**20
        min_shape = np.array([1, 512, 512])
        if max_bytes < min_shape.prod() * dtype_size:
            min_shape = np.array([1, 1, 1])

        tshape = np.array(tile_shape(count, height, width, dtype, max_tile_size=mts))
        tsize = tshape.prod() * dtype_size
        im_shape = np.array([count, height, width])

        assert all(tshape >= 1)
        assert all(tshape <= im_shape)
        assert all(tshape[1:] <= tiler.EE_MAX_TILE_DIM)
        assert tshape[0] <= tiler.EE_MAX_TILE_BANDS
        assert tsize <= max_bytes
        # dims on image bounds or multiples of the block shape
        assert all(
            (tshape == im_shape)
            | (np.round(tshape / min_shape) == tshape / min_shape)
        )
        # >1 tile -> tile size above the greedy lower bound (test_tile.py:156-157)
        if any(tshape < im_shape):
            assert tsize > max_bytes / 2


def test_tile_shape_int8_inflation():
    """Port of test_tile.py:159-166 — 2x inflation for *int8."""
    for dtype in ["int8", "uint8"]:
        tshape = np.array(tile_shape(1024, 1024, 1024, dtype, max_tile_size=1))
        tsize = tshape.prod() * np.dtype(dtype).itemsize
        assert tsize <= (1 * 2**20) / 2


def test_tile_shape_validation():
    with pytest.raises(ValueError, match="max_tile_size"):
        tile_shape(1, 10, 10, max_tile_size=33)
    with pytest.raises(ValueError, match="max_tile_dim"):
        tile_shape(1, 10, 10, max_tile_dim=10001)
    with pytest.raises(ValueError, match="max_tile_bands"):
        tile_shape(1, 10, 10, max_tile_bands=1025)


def test_tile_shape_memo_matches_uncached():
    """The memoized tile_shape returns the uncached result on a miss and on
    a hit, and invalid caps raise on every call (exceptions are not cached)."""
    grid = itertools.product(
        [1, 3, 200], [1, 40, 513, 4000], [1, 40, 1025, 9000],
        ["uint8", "int16", "uint16", "float32", "float64"],
        [0.5, 1, 4, 32], [21, 10000], [1, 1024],
    )
    for count, h, w, dtype, mts, mtd, mtb in grid:
        want = tile_shape.__wrapped__(count, h, w, dtype, mts, mtd, mtb)
        for _ in range(2):
            assert tile_shape(count, h, w, dtype, mts, mtd, mtb) == want
    for _ in range(2):
        with pytest.raises(ValueError, match="max_tile_size"):
            tile_shape(1, 10, 10, max_tile_size=33)
        with pytest.raises(ValueError, match="max_tile_dim"):
            tile_shape(1, 10, 10, max_tile_dim=10001)


def test_explode_tiles_coverage(spark):
    """Port of test_tile.py:169-202 continuity/coverage, on the DataFrame op.

    Also the forced 2x2x2 = 8-tile case (test_tile.py:277-284 semantics:
    max_tile_dim + max_tile_bands forcing a known split)."""
    images = synth.images_meta_df(spark, 6)  # 40x40, 2 bands
    tiles = explode_tiles(
        images, bands=2, dtype="uint16", max_tile_dim=21, max_tile_bands=1
    ).select(
        "image_id", "band_start", "band_stop", "row_start", "row_stop",
        "col_start", "col_stop",
    )
    rows = tiles.collect()
    # 40/21 -> 2 splits per spatial axis, 2 band splits -> 8 tiles/image
    per_img = {}
    for r in rows:
        per_img.setdefault(r["image_id"], []).append(r)
    assert len(per_img) == 6
    for img, ts in per_img.items():
        assert len(ts) == 8
        # exact coverage, no overlap
        cover = np.zeros((2, 40, 40), dtype=int)
        for t in ts:
            cover[t["band_start"]:t["band_stop"],
                  t["row_start"]:t["row_stop"],
                  t["col_start"]:t["col_stop"]] += 1
        assert (cover == 1).all()


def test_tile_transform(spark):
    images = synth.images_meta_df(spark, 3)
    tiles = explode_tiles(images, bands=2, max_tile_dim=21, max_tile_bands=2)
    r = tiles.filter("row_start = 21 and col_start = 21").select(
        "transform", "tile_transform").first()
    tf, ttf = r["transform"], r["tile_transform"]
    assert ttf[2] == tf[2] + 21 * tf[0]
    assert ttf[5] == tf[5] + 21 * tf[4]
    assert ttf[0] == tf[0] and ttf[4] == tf[4]


def test_tile_transform_with_shear(spark):
    """Regression: the tile offset needs BOTH affine cross-terms
    (c' = c + col*a + row*b; f' = f + col*d + row*e — tile.py:91-97)."""
    from pyspark.sql import functions as F
    from geedim_spark.operators import tiler

    df = spark.createDataFrame(
        [("I", 2, 44, 44)], "image_id string, bands int, h int, w int"
    ).withColumn(
        "transform",
        F.array(*[F.lit(float(v)) for v in (10.0, 2.0, 500.0, 3.0, -10.0, 800.0)]),
    )
    tiles = tiler.explode_tiles(df, max_tile_dim=22, max_tile_bands=2)
    got = {(r["row_start"], r["col_start"]): r["tile_transform"]
           for r in tiles.collect()}
    t = got[(22, 22)]
    assert t[2] == 500.0 + 22 * 10.0 + 22 * 2.0   # c + col*a + row*b
    assert t[5] == 800.0 + 22 * 3.0 + 22 * -10.0  # f + col*d + row*e
    assert t[0] == 10.0 and t[1] == 2.0 and t[3] == 3.0 and t[4] == -10.0
