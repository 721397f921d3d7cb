"""Export pipeline: image rows -> tile pixel blobs -> sinks.

Reference flow: ``prepareForExport().toGeoTIFF()`` (image.py:741-1085) —
tile the image, download+decode each tile, write windowed blocks into one
GeoTIFF.  Engine flow:

    images --map_rows (kernel tiling + slice + encode)--> tiles table
           --write_snapshot--> committed parquet partitions   (primary sink)
           --assemble (test scale)--> numpy array             (K2 sink)

Tiling happens *inside* the kernel (one decode per image, tiles emitted from
the decoded array) rather than exploding first — exploding would ship the
whole image blob once per tile row through the shuffle.  The tile geometry is
the same ``tile_shape`` math as operators/tiler.py (tile.py:218-270
semantics), so tile counts/bounds match the metadata-only explode exactly.

``prepare_for_export`` ports the plan-rewriting half (image.py:741-862):
band select, scale/offset, dtype cast, grid preservation.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

from geedim_spark import codecs
from geedim_spark.functions.dtypes import cast_pixels
from geedim_spark.kernels import map_rows, with_columns
from geedim_spark.operators import masks
from geedim_spark.operators.tiler import tile_shape, tile_windows

_TILE_SCHEMA = (
    "image_id string, caption string, band_start int, band_stop int, "
    "row_start int, row_stop int, col_start int, col_stop int, "
    "tile_bytes binary"
)

_CAPTIONED_COLS = ["image_id", "caption", "bytes"]


def export_tiles(
    images: DataFrame,
    max_tile_size: float = 4,
    max_tile_dim: int = 10000,
    max_tile_bands: int = 1024,
) -> DataFrame:
    """Decode each image once and emit raw-encoded tile blobs.

    Caption rides along on every tile (input_hint invariant: caption
    equality through every export path).
    """
    def _row(image_id, caption, buf):
        px = codecs.decode(bytes(buf))
        tshape = tile_shape(
            *px.shape, px.dtype.name, max_tile_size, max_tile_dim, max_tile_bands
        )
        for _, ((b0, b1), (r0, r1), (c0, c1)) in tile_windows(px.shape, tshape):
            yield (image_id, caption, b0, b1, r0, r1, c0, c1,
                   codecs.encode_raw(px[b0:b1, r0:r1, c0:c1]))

    return map_rows(images, _CAPTIONED_COLS, _TILE_SCHEMA, _row)


def assemble_image(tile_rows, bands: int, h: int, w: int, dtype: str) -> np.ndarray:
    """NumPy sink (image.py:1087-1176 analog): place decoded tiles into a
    (bands, h, w) array.  Test-scale / driver-side only."""
    out = np.zeros((bands, h, w), dtype=dtype)
    for r in tile_rows:
        blk = codecs.decode(bytes(r["tile_bytes"]))
        out[r["band_start"]:r["band_stop"],
            r["row_start"]:r["row_stop"],
            r["col_start"]:r["col_stop"]] = blk
    return out


def with_bands_selected(images: DataFrame, band_regex: str) -> DataFrame:
    """P1 band select by name regex (the reference's
    ``select('B.*|SR_B.*')`` pattern, image.py:796-798; mask.py:176):
    decode, keep the bands whose names under the row's collection
    (:func:`masks.band_names_for`) fully match, in order, re-encode.  One
    :func:`kernels.with_columns` pass: ``bytes`` and ``fmt`` ('raw') are
    replaced in place and ``n_bands`` appended.  A regex no family's band
    matches fails at plan time; a row whose own bands match nothing fails
    naming the image."""
    import re

    every = (*masks.BAND_NAMES, *masks.S2_BAND_NAMES)
    if not any(re.fullmatch(band_regex, n) for n in every):
        raise ValueError(f"no bands match {band_regex!r} in {every}")

    def _row(image_id, buf, coll):
        px = codecs.decode(bytes(buf))
        names = masks.band_names_for(coll)[: px.shape[0]]
        keep = [i for i, n in enumerate(names) if re.fullmatch(band_regex, n)]
        if not keep:
            raise ValueError(f"no bands of {image_id} ({list(names)}) match {band_regex!r}")
        return codecs.encode_raw(np.ascontiguousarray(px[keep])), "raw", len(keep)

    return with_columns(images, ["image_id", "bytes", "collection"],
                        "bytes binary, fmt string, n_bands int", _row)


def select_bands(images: DataFrame, band_regex: str) -> DataFrame:
    """:func:`with_bands_selected` narrowed to (image_id, caption, bytes, n_bands)."""
    return with_bands_selected(images, band_regex).select(*_CAPTIONED_COLS, "n_bands")


def with_export_pixels(
    images: DataFrame,
    scale_offset: dict[int, tuple[float, float]] | None = None,
    dtype: str | None = None,
) -> DataFrame:
    """Plan-rewriting half of prepareForExport (image.py:741-862):
    per-band STAC scale/offset (image.py:137-172) then dtype cast with
    saturation (image.py:571-596).  No-op bands pass through unaltered
    (grid preservation analog: untouched pixels stay bit-identical).  One
    :func:`kernels.with_columns` pass replacing ``bytes`` and ``fmt``
    ('raw') in place; with neither option it returns ``images`` as is."""
    if not scale_offset and not dtype:
        return images

    def _row(buf):
        px = codecs.decode(bytes(buf))
        work = px.astype(np.float64) if scale_offset else px
        if scale_offset:
            for b, (sc, off) in scale_offset.items():
                work[b] = work[b] * sc + off
        if dtype:
            work = cast_pixels(work, dtype)
        elif scale_offset:
            work = cast_pixels(work, "float64")
        return codecs.encode_raw(np.ascontiguousarray(work)), "raw"

    return with_columns(images, ["bytes"], "bytes binary, fmt string", _row)


def prepare_for_export(images: DataFrame, scale_offset=None, dtype=None) -> DataFrame:
    """:func:`with_export_pixels` narrowed to (image_id, caption, bytes),
    the no-op path included: the shape cannot flip with parameter values."""
    return with_export_pixels(images, scale_offset, dtype).select(*_CAPTIONED_COLS)


def pixel_histogram(images: DataFrame, band: int = 0) -> DataFrame:
    """Per-image frequency histogram of one band's pixel VALUES — the
    region-reduce the reference's service exposes as
    ``reducer=frequencyHistogram`` (geedim drives it through
    ``reduceRegion``-style stats): one row per (image, distinct value)
    with its exact pixel count.

    Scale shape (100 TB): the Arrow kernel runs ``np.unique`` per image
    (already-grouped data, no shuffle to form groups); the output is the
    HISTOGRAM, not pixels — rows out ~ distinct values per image, so a
    downstream corpus-level rollup is a 2-phase agg over tiny rows.  No
    shuffle in this operator at all; the caller's groupBy (if any) is
    the only exchange.

    Output: (image_id, value, n_px) with value as long.
    """
    if band < 0:
        raise ValueError(f"band must be >= 0, got {band}")

    def _row(image_id, buf):
        px = codecs.decode(bytes(buf))
        if band >= px.shape[0]:
            raise ValueError(
                f"band {band} out of range for {px.shape[0]}-band image")
        v, c = np.unique(px[band], return_counts=True)
        for x, n in zip(v, c):
            yield image_id, int(x), int(n)

    return map_rows(
        images, ["image_id", "bytes"],
        "image_id string, value long, n_px long", _row,
    )
