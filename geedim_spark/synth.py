"""Deterministic synthetic images + ROI tables (the engine's test universe).

Shape mandated by BASELINE.json ``input_hint``:

    image_id string, bytes binary, w int, h int, fmt string,
    caption string, phash bigint

plus derived metadata columns (crs, transform, footprint bbox, time_start,
props).  Every field is a pure integer-arithmetic function of the row index
``i`` so the identical table is reproducible in DuckDB SQL (see
:func:`sql_images` / :func:`sql_rois`) — that is what lets pixel-level
operators (mask portions, cloud distance) be oracle-checked analytically.

Pixel content ports the reference's strip-mock pattern
(/root/reference/tests/test_mask.py:24-114): axis-aligned strips of exactly
known pixel width encode mask conditions, so portions are exact integers.

    band 0 (B1):       value v = 1 + i%200 everywhere, 0 (nodata) in the left
                       f_px = (i%5)*4 columns               -> FILL strip
    band 1 (QA):       the family QA band — QA_PIXEL bit 9 (mid-confidence
                       cloud, mask.py:183) for Landsat/mock rows, QA60
                       bit 10 (opaque cloud, mask.py:387) for Sentinel-2
                       rows (i%3==2) — set in the right
                       c_px = (i%7)*2 columns               -> CLOUD strip

Footprints are w*scale-metre boxes placed by a multiplicative scatter over
the 102.4 km test world; ~1 % of ids collide onto hot positions to create
join skew on purpose (the salting / AQE path needs something to chew on).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from geedim_spark import codecs
from geedim_spark.kernels import map_batches

SCALE = 10.0  # metres / pixel
EPOCH = "2024-01-01 00:00:00"

# placement multipliers (coprime with the 99000/90000 moduli)
_PX, _PY = 9973, 7919
_RX, _RY = 31337, 57923


def n_images_for_sf(sf: float) -> int:
    return max(8, int(round(sf * 200000)))


def n_rois_for_sf(sf: float) -> int:
    return max(2, n_images_for_sf(sf) // 100)


def sf_from_dir(sf_dir: str) -> float:
    """Parse '.../sf0.01' -> 0.01 (defaults to 0.01)."""
    name = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    try:
        return float(name.replace("sf", ""))
    except ValueError:
        return 0.01


# ---------------------------------------------------------------------------
# Spark side
# ---------------------------------------------------------------------------

def _scalar_base(spark: SparkSession, n: int, w: int, h: int) -> DataFrame:
    """The kernel-input columns: everything the pixel generator needs,
    all scalar (Arrow-cheap), no shuffle anywhere."""
    i = F.col("i")
    return spark.range(n).withColumnRenamed("id", "i").select(
        "i",
        (i % 200 + 1).cast("int").alias("v"),
        ((i % 5) * 4).cast("int").alias("f_px"),
        ((i % 7) * 2).cast("int").alias("c_px"),
        F.lit(w).cast("int").alias("w"),
        F.lit(h).cast("int").alias("h"),
        F.when(i % 4 == 3, F.lit("dct8")).otherwise(F.lit("raw")).alias("fmt"),
    )


def _decorate_meta(df: DataFrame, w: int, h: int) -> DataFrame:
    """Add the derived metadata columns (all pure functions of ``i``)."""
    i = F.col("i")
    ext = F.lit(float(w) * SCALE)
    return (
        df
        .withColumn("image_id", F.format_string("IMG/%08d", i))
        .withColumn(
            "collection",
            F.element_at(
                F.array(
                    F.lit("MOCK/CONST"),
                    F.lit("LANDSAT/LC09/C02/T1_L2"),
                    F.lit("COPERNICUS/S2_SR_HARMONIZED"),
                ),
                (i % 3 + 1).cast("int"),
            ),
        )
        .withColumn("x0", ((i * _PX) % 99000).cast("double"))
        .withColumn("y0", ((i * _PY) % 90000).cast("double"))
        .withColumn("x1", F.col("x0") + ext)
        .withColumn("y1", F.col("y0") + ext)
        .withColumn(
            "caption",
            F.format_string("caption-%08d-%03d", i, (i * 2654435761) % 997),
        )
        .withColumn(
            "time_start",
            F.to_timestamp(F.lit(EPOCH)) + F.make_interval(hours=i.cast("int")),
        )
        .withColumn("crs", F.lit("EPSG:3857"))
        .withColumn(
            "transform",
            F.array(F.lit(SCALE), F.lit(0.0), F.col("x0"),
                    F.lit(0.0), -F.lit(SCALE), F.col("y1")),
        )
        .withColumn(
            "props",
            F.create_map(
                F.lit("system:index"), F.format_string("%08d", i),
                F.lit("MEAN_SOLAR_AZIMUTH_ANGLE"), ((i * 37) % 360).cast("string"),
                F.lit("CLOUD_COVER"), ((i * 13) % 101).cast("string"),
            ),
        )
    )


def images_meta_df(spark: SparkSession, n: int, w: int = 40, h: int = 40) -> DataFrame:
    """Metadata-only images table (no pixel bytes) — pure Catalyst exprs."""
    return _decorate_meta(_scalar_base(spark, n, w, h), w, h)


_GEN_SCHEMA = (
    "i long, v int, f_px int, c_px int, w int, h int, fmt string, "
    "bytes binary, phash long"
)


def _gen_bytes_batch(pdf: pd.DataFrame) -> pd.DataFrame:
    """Vectorised pixel synthesis + encode for one Arrow batch.
    Pass-through of the scalar inputs — the meta columns are re-derived
    from ``i`` afterwards so generation needs NO join/shuffle."""
    out_bytes, out_phash = [], []
    for i, v, f_px, c_px, w, h, fmt in zip(
        pdf["i"], pdf["v"], pdf["f_px"], pdf["c_px"], pdf["w"], pdf["h"], pdf["fmt"]
    ):
        px = np.zeros((2, h, w), dtype=np.uint16)
        px[0, :, :] = v
        px[0, :, :f_px] = 0                # fill strip (nodata)
        if c_px:
            # band 1 is the family QA band: S2 rows (i%3==2) carry QA60
            # bit 10 = opaque cloud (mask.py:387); other rows QA_PIXEL
            # bit 9 = mid-confidence cloud (mask.py:183)
            qa_bit = 10 if i % 3 == 2 else 9
            px[1, :, w - c_px:] = 1 << qa_bit
        out_bytes.append(codecs.encode(px, fmt))
        out_phash.append(codecs.phash64(px))
    out = pdf.copy()
    out["bytes"] = out_bytes
    out["phash"] = out_phash
    return out


def images_df(
    spark: SparkSession, n: int, w: int = 40, h: int = 40,
    scalar_filter: str | None = None,
) -> DataFrame:
    """Full images table incl. encoded pixel ``bytes`` + ``phash``.
    Zero-shuffle: scalar base -> Arrow kernel (bytes appended in-pass) ->
    Catalyst meta decoration.

    ``scalar_filter`` (e.g. "fmt = 'raw'") is applied *before* the pixel
    kernel — a late ``.filter`` can't be pushed above the mapInPandas
    barrier by Catalyst, so rows filtered late still pay encode cost.
    """
    base = _scalar_base(spark, n, w, h)
    if scalar_filter:
        base = base.filter(scalar_filter)
    blobs = map_batches(base, _GEN_SCHEMA, _gen_bytes_batch)
    return _decorate_meta(blobs, w, h)


def scores_df(spark: SparkSession, n: int, w: int = 40, h: int = 40) -> DataFrame:
    """Cloud-score match images (the GOOGLE/CLOUD_SCORE_PLUS analog) for the
    EVEN-indexed images only — odd images exercise the no-match ->
    fully-masked default path (mask.py:317-328).

    Score raster: 0.9 (clear) in the left s_px = (i%10)*4 columns, 0.5
    (cloudy at the 0.6 threshold) elsewhere — exact strip closed forms.
    """
    i = F.col("i")
    base = (
        spark.range(n).withColumnRenamed("id", "i").filter("i % 2 = 0")
        .select(
            "i",
            F.format_string("IMG/%08d", i).alias("image_id"),
            ((i % 10) * 4).cast("int").alias("s_px"),
            F.lit(w).cast("int").alias("w"),
            F.lit(h).cast("int").alias("h"),
        )
    )

    def _gen(pdf: pd.DataFrame) -> pd.DataFrame:
        blobs = []
        for i, s_px, w_, h_ in zip(pdf["i"], pdf["s_px"], pdf["w"], pdf["h"]):
            # band 0 = 'cs', band 1 = 'cs_cdf' (the Cloud Score+ band pair,
            # mask.py:287/334): the cdf band has its own clear-strip width
            # (i%8)*5 so band selection is value-distinguishable
            sc = np.full((2, h_, w_), 0.5, dtype=np.float32)
            sc[0, :, :s_px] = 0.9
            sc[1] = 0.45
            sc[1, :, : int(i % 8) * 5] = 0.95
            blobs.append(codecs.encode_raw(sc))
        out = pdf.copy()
        out["score_bytes"] = blobs
        return out

    return map_batches(
        base, "i long, image_id string, s_px int, w int, h int, score_bytes binary",
        _gen)


def probs_df(spark: SparkSession, n: int, w: int = 40, h: int = 40) -> DataFrame:
    """Cloud-probability match images (the COPERNICUS/S2_CLOUD_PROBABILITY
    analog) for EVEN-indexed images only — odd images exercise the no-match
    -> fully-masked default (mask.py:317-328).

    Probability raster: 90 (cloudy at the 60 threshold) in the left
    p_px = (i%10)*4 columns, 50 (clear) elsewhere — exact strip closed
    forms through the prob pipeline's open+dilate morphology.
    """
    i = F.col("i")
    base = (
        spark.range(n).withColumnRenamed("id", "i").filter("i % 2 = 0")
        .select(
            "i",
            F.format_string("IMG/%08d", i).alias("image_id"),
            ((i % 10) * 4).cast("int").alias("p_px"),
            F.lit(w).cast("int").alias("w"),
            F.lit(h).cast("int").alias("h"),
        )
    )

    def _gen(pdf: pd.DataFrame) -> pd.DataFrame:
        blobs = []
        for p_px, w_, h_ in zip(pdf["p_px"], pdf["w"], pdf["h"]):
            pr = np.full((1, h_, w_), 50.0, dtype=np.float32)
            pr[0, :, :p_px] = 90.0
            blobs.append(codecs.encode_raw(pr))
        out = pdf.copy()
        out["prob_bytes"] = blobs
        return out

    return map_batches(
        base, "i long, image_id string, p_px int, w int, h int, prob_bytes binary",
        _gen)


def cdi_df(spark: SparkSession, n: int, w: int = 40, h: int = 40) -> DataFrame:
    """Cloud Displacement Index twin table (the COPERNICUS/S2 TOA analog,
    mask.py:418-434): CDI = -0.8 (convective cloud signature) in the RIGHT
    d_px = (i%4)*10 columns, +0.2 elsewhere — overlaps the QA cloud strip by
    exactly min(c_px, d_px) columns."""
    i = F.col("i")
    base = spark.range(n).withColumnRenamed("id", "i").select(
        "i",
        F.format_string("IMG/%08d", i).alias("image_id"),
        ((i % 4) * 10).cast("int").alias("d_px"),
        F.lit(w).cast("int").alias("w"),
        F.lit(h).cast("int").alias("h"),
    )

    def _gen(pdf: pd.DataFrame) -> pd.DataFrame:
        blobs = []
        for d_px, w_, h_ in zip(pdf["d_px"], pdf["w"], pdf["h"]):
            arr = np.full((1, h_, w_), 0.2, dtype=np.float32)
            if d_px:
                arr[0, :, w_ - d_px:] = -0.8
            blobs.append(codecs.encode_raw(arr))
        out = pdf.copy()
        out["cdi_bytes"] = blobs
        return out

    return map_batches(
        base, "i long, image_id string, d_px int, w int, h int, cdi_bytes binary",
        _gen)


def rois_df(spark: SparkSession, m: int) -> DataFrame:
    """ROI table: deterministic rectangles 4-13.6 km across the test world."""
    j = F.col("j")
    return (
        spark.range(m).withColumnRenamed("id", "j")
        .withColumn("roi_id", F.format_string("ROI/%04d", j))
        .withColumn("rx0", ((j * _RX) % 90000).cast("double"))
        .withColumn("ry0", ((j * _RY) % 90000).cast("double"))
        .withColumn("rx1", F.col("rx0") + (4000 + (j % 5) * 2400).cast("double"))
        .withColumn("ry1", F.col("ry0") + (4000 + ((j * 3) % 5) * 2400).cast("double"))
    )


# ---------------------------------------------------------------------------
# DuckDB oracle side — identical tables as SQL CTE bodies
# ---------------------------------------------------------------------------

def sql_images(n: int, w: int = 40, h: int = 40) -> str:
    """DuckDB SELECT regenerating images_meta_df exactly (no bytes)."""
    ext = float(w) * SCALE
    return f"""
      SELECT range AS i,
             printf('IMG/%08d', range) AS image_id,
             ['MOCK/CONST','LANDSAT/LC09/C02/T1_L2','COPERNICUS/S2_SR_HARMONIZED']
                [(range % 3) + 1] AS collection,
             CAST({w} AS INT) AS w, CAST({h} AS INT) AS h,
             CASE WHEN range % 4 = 3 THEN 'dct8' ELSE 'raw' END AS fmt,
             CAST(range % 200 + 1 AS INT) AS v,
             CAST((range % 5) * 4 AS INT) AS f_px,
             CAST((range % 7) * 2 AS INT) AS c_px,
             CAST((range * {_PX}) % 99000 AS DOUBLE) AS x0,
             CAST((range * {_PY}) % 90000 AS DOUBLE) AS y0,
             CAST((range * {_PX}) % 99000 + {ext} AS DOUBLE) AS x1,
             CAST((range * {_PY}) % 90000 + {ext} AS DOUBLE) AS y1,
             printf('caption-%08d-%03d', range, (range * 2654435761) % 997) AS caption,
             TIMESTAMP '{EPOCH}' + INTERVAL (range) HOUR AS time_start,
             CAST((range * 13) % 101 AS INT) AS cloud_cover
      FROM range({n})
    """


def sql_rois(m: int) -> str:
    return f"""
      SELECT range AS j,
             printf('ROI/%04d', range) AS roi_id,
             CAST((range * {_RX}) % 90000 AS DOUBLE) AS rx0,
             CAST((range * {_RY}) % 90000 AS DOUBLE) AS ry0,
             CAST((range * {_RX}) % 90000 + 4000 + (range % 5) * 2400 AS DOUBLE) AS rx1,
             CAST((range * {_RY}) % 90000 + 4000 + ((range * 3) % 5) * 2400 AS DOUBLE) AS ry1
      FROM range({m})
    """


def recipe_hash() -> str:
    """8-char fingerprint of the generation code.  Staged-parquet caches of
    the synthetic universe (bench.stage_images, __spark_entry__.
    _staged_images) key their /tmp paths by this, so any edit to the
    generators auto-invalidates the cache instead of silently serving
    stale images against freshly-computed oracles."""
    import hashlib
    import inspect

    from geedim_spark import codecs

    src = "".join(
        inspect.getsource(f)
        for f in (_scalar_base, _decorate_meta, _gen_bytes_batch, images_df)
    ) + inspect.getsource(codecs)  # staged bytes embed the wire format
    # module CONSTANTS the generators close over: an edit to e.g. EPOCH or
    # a placement multiplier changes the data while leaving every function
    # source unchanged — without this the stale staged cache would be
    # served against freshly-recomputed oracles
    src += repr((SCALE, EPOCH, _PX, _PY, _RX, _RY))
    return hashlib.sha1(src.encode()).hexdigest()[:8]
