"""Tile-splitting operator — the reference's tiling math, Spark-exploded.

Reimplements (not copies) the semantics of geedim's ``Tiler._get_tile_shape``
(/root/reference/geedim/tile.py:218-270) and its dense 3D tile grid
(/root/reference/geedim/tile.py:272-301):

- greedy per-axis shrink of (bands, h, w) until raw tile size fits
  ``max_tile_size`` MB, snapping row/col dims to 512 multiples (GeoTIFF
  block size) unless a single block already exceeds the budget;
- 2x dtype-size inflation for ``*int8`` (tile.py:245-247);
- clip to ``max_tile_bands`` / ``max_tile_dim``;
- grid of tile starts stepped by the tile shape, stops clipped to the image.

Scale design: the iterative shrink is a *scalar* function of
(bands, h, w, dtype, params). We evaluate it driver-side once per **distinct**
image shape (a handful of rows even at 10^12 images) and broadcast-join the
result back; the per-image tile-grid explode is pure Catalyst
(``sequence``/``explode`` — whole-stage codegen, zero Python in the hot path).
"""

from __future__ import annotations

from functools import lru_cache
from itertools import product

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

EE_MAX_TILE_SIZE = 32      # MB (tile.py:110)
DEFAULT_MAX_TILE_SIZE = 4  # MB (tile.py:111)
EE_MAX_TILE_DIM = 10000    # px (tile.py:112)
EE_MAX_TILE_BANDS = 1024   # (tile.py:113)
_BLOCK = 512               # GeoTIFF block size (tile.py:250)


@lru_cache
def tile_shape(
    count: int,
    height: int,
    width: int,
    dtype: str = "uint16",
    max_tile_size: float = DEFAULT_MAX_TILE_SIZE,
    max_tile_dim: int = EE_MAX_TILE_DIM,
    max_tile_bands: int = EE_MAX_TILE_BANDS,
) -> tuple[int, int, int]:
    """3D tile shape (bands, rows, cols) satisfying the ``max_*`` caps.

    Same greedy algorithm + bounds as tile.py:218-270: start from the image
    shape; for each axis in (band, row, col) order, shrink to the largest
    block-multiple that fits the remaining byte budget.

    Memoized: the per-image kernels call it once per image, almost always
    with the same arguments.  Invalid caps raise on every call.
    """
    if max_tile_size > EE_MAX_TILE_SIZE:
        raise ValueError(f"'max_tile_size' must be <= {EE_MAX_TILE_SIZE} MB.")
    if max_tile_dim > EE_MAX_TILE_DIM:
        raise ValueError(f"'max_tile_dim' must be <= {EE_MAX_TILE_DIM}.")
    if max_tile_bands > EE_MAX_TILE_BANDS:
        raise ValueError(f"'max_tile_bands' must be <= {EE_MAX_TILE_BANDS}.")

    max_bytes = max_tile_size * 2**20
    dtype_size = np.dtype(dtype).itemsize
    if dtype.endswith("int8"):
        dtype_size *= 2  # *int8 size inflation (tile.py:245-247)

    min_shape = np.array([1, _BLOCK, _BLOCK])
    if max_bytes < int(np.prod(min_shape)) * dtype_size:
        min_shape = np.array([1, 1, 1])

    im_shape = np.array([count, height, width], dtype=np.int64)
    tshape = im_shape.copy()
    for ax in range(3):
        cur_bytes = int(np.prod(tshape)) * dtype_size
        cand = min_shape[ax] * int(
            np.floor((im_shape[ax] / min_shape[ax]) * (max_bytes / cur_bytes))
        )
        tshape[ax] = int(np.clip(cand, min(im_shape[ax], min_shape[ax]), im_shape[ax]))

    tshape = np.minimum(tshape, [max_tile_bands, max_tile_dim, max_tile_dim])
    return int(tshape[0]), int(tshape[1]), int(tshape[2])


def tile_windows(shape: tuple[int, ...], tile: tuple[int, ...]):
    """Dense tile grid over an array ``shape`` (tile.py:272-301): yields
    ``(index, window)`` per tile in C order (last axis fastest), where
    ``index`` holds the per-axis block numbers and ``window`` the per-axis
    ``(start, stop)`` bounds, stops clipped to the shape."""
    axes = [
        [(i, (s, min(s + t, n))) for i, s in enumerate(range(0, n, t))]
        for n, t in zip(shape, tile)
    ]
    for cell in product(*axes):
        index, window = zip(*cell)
        yield index, window


def explode_tiles(
    images: DataFrame,
    bands: int = 2,
    dtype: str = "uint16",
    max_tile_size: float = DEFAULT_MAX_TILE_SIZE,
    max_tile_dim: int = EE_MAX_TILE_DIM,
    max_tile_bands: int = EE_MAX_TILE_BANDS,
) -> DataFrame:
    """images (w, h cols) -> tiles DataFrame, one row per 3D tile.

    Output adds: band_start/stop, row_start/stop, col_start/stop,
    tile_transform (tile.py:91-97 semantics: the image affine shifted by the
    tile's pixel offset).

    The tile shape per distinct (w, h) is computed driver-side (metadata-only
    aggregate — cheap at any scale) and joined back as literals via a
    broadcast map; the grid explode itself is sequence/explode (Catalyst).
    """
    spark = images.sparkSession
    # guard the driver pull: shape cardinality is tiny for real collections
    # (the export guard even enforces ONE grid); a pathological table with
    # per-row shapes must fail loudly, not OOM the driver
    max_shapes = 100_000
    shapes = [
        (int(r["w"]), int(r["h"]))
        for r in images.select("w", "h").distinct().limit(max_shapes + 1).collect()
    ]
    if len(shapes) > max_shapes:
        raise ValueError(
            f"explode_tiles: more than {max_shapes} distinct (w, h) shapes — "
            "tile-shape planning is per-shape driver-side; bucket shapes or "
            "tile per partition instead"
        )
    rows = []
    for w, h in shapes:
        tb, th, tw = tile_shape(
            bands, h, w, dtype, max_tile_size, max_tile_dim, max_tile_bands
        )
        rows.append((w, h, tb, th, tw))
    shape_df = spark.createDataFrame(rows, "w int, h int, tb int, th int, tw int")

    tiled = images.join(F.broadcast(shape_df), ["w", "h"])
    tiled = (
        tiled
        .withColumn("band_start", F.explode(F.sequence(F.lit(0), F.lit(bands - 1), F.col("tb"))))
        .withColumn("row_start", F.explode(F.sequence(F.lit(0), F.col("h") - 1, F.col("th"))))
        .withColumn("col_start", F.explode(F.sequence(F.lit(0), F.col("w") - 1, F.col("tw"))))
        .withColumn("band_stop", F.least(F.col("band_start") + F.col("tb"), F.lit(bands)))
        .withColumn("row_stop", F.least(F.col("row_start") + F.col("th"), F.col("h")))
        .withColumn("col_stop", F.least(F.col("col_start") + F.col("tw"), F.col("w")))
    )
    if "transform" in images.columns:
        t = F.col("transform")
        # affine composition T * translation(col, row) (tile.py:91-97):
        # the offset needs BOTH cross-terms — c' = c + col*a + row*b,
        # f' = f + col*d + row*e (b=d=0 for axis-aligned grids, but sheared
        # or rotated transforms are valid reference inputs)
        tiled = tiled.withColumn(
            "tile_transform",
            F.array(
                t[0], t[1],
                t[2] + F.col("col_start") * t[0] + F.col("row_start") * t[1],
                t[3], t[4],
                t[5] + F.col("col_start") * t[3] + F.col("row_start") * t[4],
            ),
        )
    return tiled.drop("tb", "th", "tw")
