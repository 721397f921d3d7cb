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
from geedim_spark.kernels import map_rows
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


def select_bands(
    images: DataFrame,
    band_regex: str,
    band_names=("B1", "QA_PIXEL"),
) -> DataFrame:
    """P1 band select by name regex (the reference's
    ``select('B.*|SR_B.*')`` pattern, image.py:796-798; mask.py:176):
    decode, keep matching bands in order, re-encode."""
    import re

    keep_idx = [i for i, n in enumerate(band_names) if re.fullmatch(band_regex, n)]
    if not keep_idx:
        raise ValueError(f"no bands match {band_regex!r} in {band_names}")

    def _row(image_id, caption, buf):
        px = codecs.decode(bytes(buf))
        sel = np.ascontiguousarray(px[keep_idx])
        yield image_id, caption, codecs.encode_raw(sel), len(keep_idx)

    return map_rows(
        images, _CAPTIONED_COLS,
        "image_id string, caption string, bytes binary, n_bands int", _row,
    )


def prepare_for_export(
    images: DataFrame,
    scale_offset: dict[int, tuple[float, float]] | None = None,
    dtype: str | None = None,
) -> DataFrame:
    """Plan-rewriting half of prepareForExport (image.py:741-862):
    per-band STAC scale/offset (image.py:137-172) then dtype cast with
    saturation (image.py:571-596).  No-op bands pass through unaltered
    (grid preservation analog: untouched pixels stay bit-identical).

    Output schema is ALWAYS (image_id, caption, bytes) — including the
    no-op path, so the result shape cannot flip with parameter values
    (callers needing the metadata columns re-join on image_id;
    ``api.Collection.prepare_for_export`` does exactly that)."""
    if not scale_offset and not dtype:
        return images.select(*_CAPTIONED_COLS)

    def _row(image_id, caption, buf):
        px = codecs.decode(bytes(buf))
        work = px.astype(np.float64) if scale_offset else px
        if scale_offset:
            for b, (sc, off) in scale_offset.items():
                work[b] = work[b] * sc + off
        if dtype:
            work = cast_pixels(work, dtype)
        elif scale_offset:
            work = cast_pixels(work, "float64")
        yield image_id, caption, codecs.encode_raw(np.ascontiguousarray(work))

    return map_rows(
        images, _CAPTIONED_COLS,
        "image_id string, caption string, bytes binary", _row,
    )


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
