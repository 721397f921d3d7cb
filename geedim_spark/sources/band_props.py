"""STAC-analog band-properties dimension table (S4).

The reference fetches per-collection STAC JSON (band scales/offsets, GSD,
descriptions — stac.py:29-107) and applies scale/offset during export
(image.py:137-172).  With no network in this environment the catalog is a
static in-repo table; the engine treats it the way a 100 TB job should: a
tiny dimension DataFrame **broadcast-joined** to the images by collection,
with the per-band scale/offset array carried into the export kernel.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# collection -> band -> (scale, offset, gsd_m, wavelength_um)
_CATALOG = {
    "LANDSAT/LC09/C02/T1_L2": {
        "B1": (2.75e-05, -0.2, 30.0, 0.443),
        "QA_PIXEL": (1.0, 0.0, 30.0, None),
    },
    "COPERNICUS/S2_SR_HARMONIZED": {
        "B1": (1e-4, 0.0, 60.0, 0.4427),
        "QA60": (1.0, 0.0, 60.0, None),  # the S2 QA band (masks.band_names_for)
    },
    "MOCK/CONST": {
        "B1": (1.0, 0.0, 10.0, None),
        "QA_PIXEL": (1.0, 0.0, 10.0, None),
    },
}


def band_props_df(spark: SparkSession) -> DataFrame:
    rows = [
        (coll, band, float(sc), float(off), float(gsd), wl)
        for coll, bands in _CATALOG.items()
        for band, (sc, off, gsd, wl) in bands.items()
    ]
    return spark.createDataFrame(
        rows,
        "collection string, band string, scale double, offset double, "
        "gsd double, wavelength double",
    )


def with_scale_offset(images: DataFrame, props: DataFrame) -> DataFrame:
    """Broadcast-join the per-band scale/offset arrays onto each image row
    (sorted by band name for deterministic array order).

    Collections absent from the catalog get an EMPTY band_so array, not
    NULL (the reference's STAC default is identity scale/offset when no
    entry exists, image.py:137-172 — kernels treat missing/short arrays as
    scale 1 / offset 0 instead of crashing on None)."""
    # sort key (len(band), band): numeric-aware for B1..B11-style names —
    # plain lexicographic order puts B10 before B2, so a kernel applying
    # band_so[i] to pixel band i would mix up scale/offsets
    agg = props.groupBy("collection").agg(
        F.transform(
            F.sort_array(F.collect_list(
                F.struct(F.length("band").alias("_l"), "band", "scale", "offset")
            )),
            lambda s: F.struct(
                s["band"].alias("band"), s["scale"].alias("scale"),
                s["offset"].alias("offset"),
            ),
        ).alias("band_so")
    )
    joined = images.join(F.broadcast(agg), "collection", "left")
    empty = F.array().cast(
        "array<struct<band:string,scale:double,offset:double>>"
    )
    return joined.withColumn("band_so", F.coalesce(F.col("band_so"), empty))
