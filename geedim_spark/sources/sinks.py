"""Secondary sinks: numpy-structured outputs and per-image files.

The reference offers GeoTIFF / NumPy / Xarray sinks (image.py:954-1279).
Here the primary sink is the snapshot-committed tiles table; these helpers
rebuild client-side array forms at test scale:

- :func:`to_numpy`   — (bands, h, w) array (K2; export_ops.assemble_image)
- :func:`to_structured` — structured dtype view, one field per band
  (image.py:1167-1175 analog)
"""

from __future__ import annotations

import numpy as np

from geedim_spark.operators.export_ops import assemble_image


def to_numpy(tile_rows, bands: int, h: int, w: int, dtype: str) -> np.ndarray:
    return assemble_image(tile_rows, bands, h, w, dtype)


def to_structured(
    array: np.ndarray, band_names: list[str]
) -> np.ndarray:
    """(bands, h, w) -> (h, w) structured array with one field per band."""
    bands, h, w = array.shape
    if len(band_names) < bands:
        raise ValueError(
            f"{bands} bands but only {len(band_names)} band names — "
            "trailing bands would be silently dropped"
        )
    dt = np.dtype([(n, array.dtype) for n in band_names[:bands]])
    out = np.empty((h, w), dtype=dt)
    for i, n in enumerate(dt.names):
        out[n] = array[i]
    return out


def write_image_files(
    tiles: "DataFrame",  # noqa: F821 (typing only; module stays Spark-lazy)
    out_dir: str,
    bands: int,
    h: int,
    w: int,
    dtype: str = "uint16",
    fmt: str = "gtiff",
    nodata=None,
    overviews: bool = False,
    geographic: bool | None = None,
    min_overview_dim: int = 256,
    split: str = "images",
    band_names: tuple | None = None,
    driver: str = "gtiff",
):
    """Distributed per-image file sink (K1 completion): assemble each
    image's tiles INSIDE its executor group and write one file per image —
    a real striped-deflate GeoTIFF by default (:mod:`.geotiff`, the
    reference's user-facing deliverable, image.py:954-1085) or ``.npy``
    with ``fmt='npy'``.  The reference's sequential per-image GeoTIFF loop
    becomes one shuffle on image_id + parallel writes: every image's file
    is produced by exactly one task, and the returned manifest frame
    (image_id, path, nbytes) is the commit record.

    Georeferencing: when the tiles frame carries ``transform`` (6-element
    affine) and ``crs`` ('EPSG:<code>') columns they land in the GeoTIFF
    tags (ModelPixelScale/ModelTiepoint + GeoKeyDirectory); ``nodata``
    writes the GDAL nodata tag (pass ``codecs.NODATA_VALS[dtype]`` for the
    reference's default behavior, image.py:1030-1034).  ``geographic``
    forces the geographic (lat/lon) vs projected GeoKey choice; ``None``
    auto-detects from a list of common geographic EPSG codes (explicitly
    NOT exhaustive — pass ``geographic=True`` for geographic CRSs outside
    it).

    ``split='bands'`` is the reference's collection TRANSPOSE
    (collection.py:465-495 ``_split_images(SplitType.bands)``): one file
    per BAND NAME, whose file-bands are that band from every input image
    in image_id order — not per-image band files.  ``band_names`` names
    the output files (default ``B<i>`` by index); geo tags come from the
    first image by id (the reference's toBands uses the first image's
    projection).

    ``out_dir`` must be a path every executor can reach (local[*]: any
    local dir; a real cluster: a shared filesystem / object-store mount).
    """
    import os

    from pyspark.sql import functions as F

    from geedim_spark.kernels import map_groups
    from geedim_spark.sources.geotiff import write_geotiff

    if fmt not in ("gtiff", "npy"):
        raise ValueError(f"unsupported fmt {fmt!r} (gtiff or npy)")
    if split not in ("images", "bands"):
        raise ValueError(f"split must be images|bands (got {split!r})")
    os.makedirs(out_dir, exist_ok=True)
    has_geo = "transform" in tiles.columns
    has_crs = "crs" in tiles.columns
    schema = "image_id string, path string, nbytes long"

    def _geo_of(row) -> tuple:
        transform = list(row["transform"]) if has_geo else None
        epsg = None
        geo = bool(geographic)
        if has_crs:
            crs = str(row["crs"])
            if crs.upper().startswith("EPSG:"):
                epsg = int(crs.split(":", 1)[1])
                # geographic (lat/lon) vs projected GeoKey choice:
                # explicit `geographic` argument wins; otherwise a
                # known-codes list (NOT exhaustive — geographic CRSs
                # outside it, e.g. EPSG:4171/4617, need the explicit
                # argument or they are written under
                # ProjectedCSTypeGeoKey)
                geo = geographic if geographic is not None else epsg in (
                    4326, 4269, 4267, 4258, 4283, 4148, 4490,
                    4171, 4617, 4619, 4759,
                )
        return transform, epsg, geo

    def _emit(name: str, arr, geo_row) -> tuple:
        """Write one file; ``geo_row`` supplies the GeoTIFF georeferencing."""
        from urllib.parse import quote
        # percent-escape (collision-free, reversible) rather than '/'->'-'
        # (download.py:82-86): 'A/B' and 'A-B' must not share one file
        safe = quote(str(name), safe="")
        if fmt == "npy":
            path = os.path.join(out_dir, f"{safe}.npy")
            np.save(path, arr)
        else:
            path = os.path.join(out_dir, f"{safe}.tif")
            transform, epsg, geo = _geo_of(geo_row)
            write_geotiff(
                path, arr, transform=transform, crs_epsg=epsg,
                geographic=geo, nodata=nodata,
                compress="deflate", overviews=overviews,
                min_overview_dim=min_overview_dim,
                overwrite=True,  # the manifest dir is the unit of intent
                driver=driver,
            )
        return name, path, int(os.path.getsize(path))

    def _write_band(pdf):
        # the reference transpose (collection.py:465-495): this group is
        # ONE band index across every image; the output file's bands are
        # the images in image_id order
        b = int(pdf["_band"].iloc[0])
        ids = sorted(pdf["image_id"].unique())
        arr = np.zeros((len(ids), h, w), dtype)
        for i, iid in enumerate(ids):
            sub = pdf[pdf["image_id"] == iid]
            arr[i] = assemble_image(sub.to_dict("records"), bands, h, w,
                                    dtype)[b]
        name = (band_names[b] if band_names and b < len(band_names)
                else f"B{b}")
        yield _emit(name, arr, pdf[pdf["image_id"] == ids[0]].iloc[0])

    if split == "bands":
        banded = tiles.withColumn(
            "_band",
            F.explode(F.sequence(F.col("band_start"),
                                 F.col("band_stop") - 1)),
        )
        return map_groups(banded, ["_band"], schema, _write_band)

    def _write(pdf):
        arr = assemble_image(pdf.to_dict("records"), bands, h, w, dtype)
        yield _emit(pdf["image_id"].iloc[0], arr, pdf.iloc[0])

    return map_groups(tiles, ["image_id"], schema, _write)
