"""Cross-tile stencil operators via neighbour-tile halo joins.

The reference's neighbourhood ops run server-side on whole images:
``fastDistanceTransform`` cloud distance (mask.py:88-124),
``directionalDistanceTransform`` shadow projection (mask.py:331-372),
``focal_min/focal_max`` morphology (mask.py:466-472).  Pixels near tile
borders need neighbours from *adjacent tiles*, so the distributed form is:

1. every tile replicates itself to its own group and to each neighbour
   group within the halo reach — an ``explode`` over kRing offsets, making
   the kNN neighbour lookup a plain **equi-join key** (image_id, gr, gc);
2. ``groupBy(image_id, gr, gc).applyInPandas`` assembles the centre tile
   plus halo margins into one padded array, runs the numpy kernel, and
   crops the centre back out.

**Exactness contract** (SURVEY §7.3 hard part 1): with
``halo_px >= ceil(max_reach / scale)`` the tiled result equals the
whole-image computation bit-for-bit — any source beyond the halo is beyond
the clamp distance, so the clamped output is unaffected (tested in
tests/test_stencil.py against whole-image kernels).

Shuffle shape at scale: each tile is replicated (2k+1)^2 times where
k = ceil(halo_px / tile_size) (k=1 for the defaults) — a constant-factor
map-side expansion, shuffled once on the compact integer group key; skew is
impossible by construction (the tile grid is uniform).
"""

from __future__ import annotations

import math
from itertools import product

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from geedim_spark import codecs
from geedim_spark.kernels import map_rows
from geedim_spark.operators import masks
from geedim_spark.operators.tiler import tile_windows

_TILE_SCHEMA = (
    "image_id string, tr int, tc int, n_tr int, n_tc int, tile_bytes binary"
)


def mask_tiles(
    images: DataFrame, tile_h: int, tile_w: int, plane: str = "cloudless",
    **mask_opts,
) -> DataFrame:
    """Decode each image (per-collection mask dispatch), and emit uint8
    mask tiles on a (tr, tc) grid.  One decode per image; tiles are the
    unit of all downstream stencil work.

    ``plane`` selects the emitted plane:
    - ``'cloudless'`` — CLOUDLESS_MASK as 0/1 (generic stencil input);
    - ``'cloud'``     — FILL & ~CLOUDLESS as 0/1 (the reference's EDT
      source plane, mask.py:102-104: nodata pixels are non-cloud);
    - ``'code'``      — 3-state 0 invalid / 1 filled-cloudy / 2 cloudless
      (carries both masks for kernels that must also exclude invalid
      pixels from their output, mask.py:117).
    """
    if plane not in ("cloudless", "cloud", "code"):
        raise ValueError(f"unknown plane {plane!r}")

    def _row(image_id, buf, coll, ts):
        _, _, m = masks.image_masks(buf, coll, ts, **mask_opts)
        cl, fill = m["CLOUDLESS_MASK"], m["FILL_MASK"]
        if plane == "cloudless":
            mk = cl.astype(np.uint8)
        elif plane == "cloud":
            mk = (fill & ~cl).astype(np.uint8)
        else:
            mk = fill.astype(np.uint8) + cl.astype(np.uint8)
        h, w = mk.shape
        n_tr, n_tc = math.ceil(h / tile_h), math.ceil(w / tile_w)
        for (tr, tc), ((r0, r1), (c0, c1)) in tile_windows(
            mk.shape, (tile_h, tile_w)
        ):
            yield (image_id, tr, tc, n_tr, n_tc,
                   codecs.encode_raw(mk[None, r0:r1, c0:c1]))

    return map_rows(
        masks._with_time_start(images), masks._IMAGE_COLS, _TILE_SCHEMA, _row
    )


def halo_apply(
    tiles: DataFrame,
    kernel,
    halo_px: int,
    tile_h: int,
    tile_w: int,
    out_dtype: str = "uint16",
) -> DataFrame:
    """Apply ``kernel(padded_2d, halo_px) -> 2d`` per tile with halo
    exchange from neighbouring tiles.

    ``kernel(padded, valid, halo)`` receives the centre tile padded by up to
    ``halo_px`` pixels of neighbour data plus a ``valid`` plane marking real
    pixels (False beyond the image edge — kernels choose their own boundary
    semantics, e.g. EDT ignores invalid pixels so image borders behave like
    the whole-image computation).  Must return an array the same shape as
    its input; the centre crop is re-encoded as the tile result.
    """
    # halo_px=0 needs NO neighbour replication (k=0 -> only the centre
    # tile survives the kRing explode); a forced k=1 would shuffle 9x the
    # volume and discard 8/9ths at the placement clamp
    k = math.ceil(halo_px / min(tile_h, tile_w))
    offs = [(dy, dx) for dy, dx in product(range(-k, k + 1), repeat=2)]
    off_col = F.array(*[
        F.struct(F.lit(dy).alias("dy"), F.lit(dx).alias("dx")) for dy, dx in offs
    ])

    exploded = (
        tiles.withColumn("off", F.explode(off_col))
        .withColumn("gr", F.col("tr") + F.col("off.dy"))
        .withColumn("gc", F.col("tc") + F.col("off.dx"))
        .where(
            (F.col("gr") >= 0) & (F.col("gr") < F.col("n_tr"))
            & (F.col("gc") >= 0) & (F.col("gc") < F.col("n_tc"))
        )
        .select("image_id", "gr", "gc", "tr", "tc", "n_tr", "n_tc", "tile_bytes")
    )

    schema = "image_id string, tr int, tc int, n_tr int, n_tc int, tile_bytes binary"

    def _group(pdf: pd.DataFrame) -> pd.DataFrame:
        gr, gc = int(pdf["gr"].iloc[0]), int(pdf["gc"].iloc[0])
        n_tr, n_tc = int(pdf["n_tr"].iloc[0]), int(pdf["n_tc"].iloc[0])
        pad = np.zeros((tile_h + 2 * halo_px, tile_w + 2 * halo_px), dtype=np.float64)
        valid = np.zeros(pad.shape, dtype=bool)
        centre_shape = None
        for tr, tc, buf in zip(pdf["tr"], pdf["tc"], pdf["tile_bytes"]):
            blk = codecs.decode(bytes(buf))[0]
            # placement of tile (tr, tc) relative to the padded origin of
            # group tile (gr, gc)
            y0 = (tr - gr) * tile_h + halo_px
            x0 = (tc - gc) * tile_w + halo_px
            ys0, xs0 = max(0, y0), max(0, x0)
            ys1 = min(pad.shape[0], y0 + blk.shape[0])
            xs1 = min(pad.shape[1], x0 + blk.shape[1])
            if ys1 > ys0 and xs1 > xs0:
                pad[ys0:ys1, xs0:xs1] = blk[ys0 - y0:ys1 - y0, xs0 - x0:xs1 - x0]
                valid[ys0:ys1, xs0:xs1] = True
            if tr == gr and tc == gc:
                centre_shape = blk.shape
        out = kernel(pad, valid, halo_px)
        crop = out[halo_px:halo_px + centre_shape[0], halo_px:halo_px + centre_shape[1]]
        return pd.DataFrame([{
            "image_id": pdf["image_id"].iloc[0], "tr": gr, "tc": gc,
            "n_tr": n_tr, "n_tc": n_tc,
            "tile_bytes": codecs.encode_raw(
                np.ascontiguousarray(crop.astype(out_dtype))[None, :, :]
            ),
        }])

    return exploded.groupBy("image_id", "gr", "gc").applyInPandas(_group, schema)


# -- ready-made halo kernels --------------------------------------------------

def _floor_u16(d: np.ndarray, max_cloud_dist: float) -> np.ndarray:
    """masks.cloud_dist's toUint16 semantics (mask.py:124): clamp then
    floor to the uint16 metre grid.  The tiled kernels must apply the SAME
    floor or q-mosaic tie-breaks diverge from the whole-image path
    (diagonal EDT distances are irrational multiples of scale: 14.1 m and
    14.9 m both floor to 14 -> tie -> sort order decides, while unfloored
    floats would pick 14.9)."""
    return np.floor(np.clip(d, 0, min(max_cloud_dist, 65535)))


def cloud_dist_kernel(scale: float, max_cloud_dist: float):
    """Tiled CLOUD_DIST: sources are the non-cloudless pixels (mask==0) —
    only *real* pixels can be sources (beyond-image padding is not cloud).
    Exact vs whole image when halo_px >= ceil(max_cloud_dist/scale)."""
    def kernel(padded: np.ndarray, valid: np.ndarray, halo: int) -> np.ndarray:
        sources = (padded == 0) & valid
        if not sources.any():
            return _floor_u16(np.full(padded.shape, max_cloud_dist),
                              max_cloud_dist)
        max_px = int(math.ceil(max_cloud_dist / scale))
        d = np.sqrt(masks.edt_squared(sources, max_r=max_px)) * scale
        return _floor_u16(d, max_cloud_dist)
    return kernel


def cloud_dist_code_kernel(scale: float, max_cloud_dist: float):
    """Reference-semantics tiled CLOUD_DIST over 3-state code tiles
    (``mask_tiles(plane='code')``): sources are FILLED CLOUDY pixels only
    (code 1 — mask.py:102-104), and invalid pixels (code 0 / beyond-image)
    output 0 so per-image sums cover fill pixels only (the updateMask
    analog, mask.py:117).  Exact vs the whole-image
    ``masks.cloud_dist(..., fill=...)`` when
    halo_px >= ceil(max_cloud_dist/scale)."""
    def kernel(padded: np.ndarray, valid: np.ndarray, halo: int) -> np.ndarray:
        sources = (padded == 1) & valid
        if sources.any():
            max_px = int(math.ceil(max_cloud_dist / scale))
            d = np.sqrt(masks.edt_squared(sources, max_r=max_px)) * scale
        else:
            d = np.full(padded.shape, max_cloud_dist)
        d = _floor_u16(d, max_cloud_dist)  # whole-image uint16 parity
        d[(padded == 0) | ~valid] = 0.0
        return d
    return kernel


def focal_max_kernel(radius: int):
    def kernel(padded: np.ndarray, valid: np.ndarray, halo: int) -> np.ndarray:
        # beyond-image = False: dilation can't grow from outside (matches
        # masks.focal_max whole-image shift fill)
        return masks.focal_max((padded != 0) & valid, radius).astype(np.float64)
    return kernel


def focal_min_kernel(radius: int):
    def kernel(padded: np.ndarray, valid: np.ndarray, halo: int) -> np.ndarray:
        # beyond-image = True: erosion treats outside as set (matches
        # masks.focal_min whole-image shift fill)
        return masks.focal_min((padded != 0) | ~valid, radius).astype(np.float64)
    return kernel


def assemble_tiles(tile_rows, tile_h: int, tile_w: int, dtype="float64") -> np.ndarray:
    """Test-scale sink: stitch (tr, tc) tiles back into one array."""
    n_tr = max(r["tr"] for r in tile_rows) + 1
    n_tc = max(r["tc"] for r in tile_rows) + 1
    blks = {}
    for r in tile_rows:
        blks[(r["tr"], r["tc"])] = codecs.decode(bytes(r["tile_bytes"]))[0]
    h = sum(blks[(tr, 0)].shape[0] for tr in range(n_tr))
    w = sum(blks[(0, tc)].shape[1] for tc in range(n_tc))
    out = np.zeros((h, w), dtype=dtype)
    for (tr, tc), blk in blks.items():
        out[tr * tile_h:tr * tile_h + blk.shape[0],
            tc * tile_w:tc * tile_w + blk.shape[1]] = blk
    return out
