"""Fused export pipeline: one decode -> masks -> coarse cloud distance ->
tile blobs.  The headline job shape.

Chaining mask_stats + cloud_dist_stats + export_tiles as separate operators
decodes every image three times; at 100 TB the decode is the dominant cost,
so the production pipeline fuses them into a single Arrow pass (the same
fusion EE performs server-side when geedim chains addMaskBands ->
maskClouds -> toGeoTIFF into one expression, collection.py:893-1004).

Output: one row per tile with mask-coverage stats and the caption riding
along (input_hint invariant).  Shuffle-free until the caller aggregates or
writes; tile rows are ~tile_size bytes, so
``spark.sql.files.maxPartitionBytes`` math carries over unchanged.
"""

from __future__ import annotations

import re
from collections.abc import Iterable

import numpy as np
from pyspark.sql import DataFrame

from geedim_spark import codecs
from geedim_spark.kernels import map_rows
from geedim_spark.operators import masks
from geedim_spark.operators.tiler import tile_shape, tile_windows

_TILE_SCHEMA = (
    "band_start int, band_stop int, row_start int, row_stop int, "
    "col_start int, col_stop int, fill_px long, cloudless_px long, "
    "dist_sum long, tile_bytes binary"
)


def mask_and_tile(
    images: DataFrame,
    scale: float = 10.0,
    max_cloud_dist: float = 5000.0,
    dist_decimate: int = 4,
    max_tile_size: float = 4,
    max_tile_dim: int = 10000,
    max_tile_bands: int = 1024,
    apply_cloud_mask: bool = True,
    focal_open_px: int = 0,
    focal_dilate_px: int = 0,
    export_dtype: str | None = None,
    band_regex: str | None = None,
    scale_offset: bool = False,
    keep: Iterable[str] = ("image_id", "caption"),
    **mask_opts,
) -> DataFrame:
    """images -> masked tile rows, single decode per image.

    ``focal_open_px``/``focal_dilate_px`` optionally run the reference's
    morphological open + dilate on the combined mask (mask.py:466-472 —
    part of the S2 qa/prob pipelines) before the cloudless mask is applied.

    ``export_dtype`` saturating-casts the EXPORTED pixels AFTER the masks
    are computed and applied, in the reference's order (addMaskBands ->
    maskClouds -> prepareForExport, image.py:741-862): casting first would
    saturate the QA bands and garble every cloud bit.  Masked pixels take
    the target dtype's nodata.

    ``scale`` feeds both the cloud-distance geometry and (unless the
    caller overrides it in ``mask_opts``) the S2 shadow/morphology
    pixel-size — one physical quantity, one route.

    ``scale_offset`` applies the catalog's per-band STAC scale/offset
    (sources.band_props; reference image.py:137-172 via prepareForExport)
    AFTER the masks are computed and BEFORE any ``export_dtype`` cast —
    the reference's order.  Identity factors leave the image's dtype
    untouched (prepare_for_export's no-op band semantics); any
    non-identity factor promotes the image to float64.

    ``band_regex`` exports only the bands whose (per-collection) names
    fully match — the reference's band selection on download
    (cli.py:364-372 -bn/--band-name -> image.py:796-798 select).  The
    ORDER matters and is the reference's: masks are computed from the
    FULL band set first (a QA-only or reflectance-only selection still
    cloud-masks correctly), then the selected bands are sliced for
    tiling.  An image whose band set matches nothing raises loudly.

    ``dist_sum`` in the output is PER-IMAGE (the coarse cloud-distance sum
    over fill pixels), replicated onto every tile row of that image —
    aggregate it with FIRST/MAX per image, never SUM over tiles (fill_px /
    cloudless_px ARE per-tile).

    ``keep`` columns of ``images`` lead every tile row of their image, as
    Arrow (``kernels.map_rows``): ``download`` adds its partition key.
    """
    mask_opts.setdefault("scale", scale)

    def _row(image_id, buf, coll, ts):
        px, names, m = masks.image_masks(buf, coll, ts, **mask_opts)
        cl = m["CLOUDLESS_MASK"]
        # S2 kernels already ran the reference's open+dilate internally
        # (mask.py:466-472) — applying the pipeline's focal emulation
        # again would double-dilate; it exists for the landsat/mock
        # families only
        is_s2 = masks._sensor_for(coll) == "s2"
        if (focal_open_px or focal_dilate_px) and not is_s2:
            # open/dilate the combined CLOUD|SHADOW mask only
            # (mask.py:466-472) — ~CLOUDLESS alone would include the
            # nodata region, whose boundary would dilate into valid
            # cloud-free pixels and under-count cloudless_px
            cloudy = ~cl & m["FILL_MASK"]
            # the morphology is ~half the kernel cost and a no-op on an
            # empty mask (open/dilate of the empty set is empty):
            # cloud-free images — most of a real archive — skip it
            if cloudy.any():
                cloudy = masks.focal_min(cloudy, focal_open_px)
                cloudy = masks.focal_max(
                    cloudy, max(focal_open_px, focal_dilate_px)
                )
                cl = ~cloudy & m["FILL_MASK"]
        # coarse-projection cloud distance (mask.py:510-516 analog)
        dist_sum = masks.cloud_dist_sum(
            cl, m["FILL_MASK"], scale, max_cloud_dist, dist_decimate
        )
        if scale_offset:
            from geedim_spark.sources.band_props import _CATALOG
            factors = [
                _CATALOG.get(coll, {}).get(n, (1.0, 0.0))[:2] for n in names
            ]
            if any(sc != 1.0 or off != 0.0 for sc, off in factors):
                px = px.astype(np.float64)
                for i, (sc, off) in enumerate(factors):
                    if sc != 1.0 or off != 0.0:
                        px[i] = px[i] * sc + off
        if export_dtype:
            # AFTER the masks were computed from the raw bands
            from geedim_spark.functions.dtypes import cast_pixels
            px = cast_pixels(px, export_dtype)
        if apply_cloud_mask:
            if not export_dtype:
                px = px.copy()
            px[0][~cl] = codecs.NODATA_VALS[px.dtype.name]

        if band_regex is not None:
            picked = [i for i, n in enumerate(names)
                      if re.fullmatch(band_regex, n)]
            if not picked:
                raise ValueError(
                    f"no bands of {image_id} ({list(names)}) match "
                    f"band_regex {band_regex!r}"
                )
            px = np.ascontiguousarray(px[picked])

        nbands, h, w = px.shape
        tshape = tile_shape(
            nbands, h, w, px.dtype.name, max_tile_size, max_tile_dim, max_tile_bands
        )
        # per-tile mask sums for the WHOLE grid in two reduceat passes
        # (row then column blocks) instead of 2 slice-sums per tile —
        # ~5x cheaper on the per-image stats share of the kernel
        r_idx = np.arange(0, h, tshape[1])
        c_idx = np.arange(0, w, tshape[2])
        fsum = np.add.reduceat(
            np.add.reduceat(m["FILL_MASK"].astype(np.int64), r_idx, axis=0),
            c_idx, axis=1,
        )
        clsum = np.add.reduceat(
            np.add.reduceat(cl.astype(np.int64), r_idx, axis=0),
            c_idx, axis=1,
        )
        for (_, ri, ci), ((b0, b1), (r0, r1), (c0, c1)) in tile_windows(
            px.shape, tshape
        ):
            yield (
                b0, b1, r0, r1, c0, c1,
                int(fsum[ri, ci]), int(clsum[ri, ci]), dist_sum,
                codecs.encode_raw(px[b0:b1, r0:r1, c0:c1]),
            )

    return map_rows(masks._with_time_start(images), masks._IMAGE_COLS,
                    _TILE_SCHEMA, _row, keep)
