"""Spatial joins as cell-index equi-joins + exact refinement.

Replaces the reference's server-side ``filterBounds``
(/root/reference/geedim/collection.py:601-602) with the standard
cover-join pattern:

1. explode each footprint's cell covering (pure Catalyst,
   :func:`geedim_spark.cells.col_cover_bbox`);
2. equi-join on ``cell`` — broadcast when one side is a dim table (ROIs),
   shuffle hash/sort-merge with optional count-sized **salting** for
   big-big joins;
3. exact geometric refine (bbox predicate as Catalyst expressions; arbitrary
   polygons via a vectorised point-in-polygon pandas UDF);
4. distinct on the key pair (cell coverings overlap between resolutions).

Scale notes (10^12 rows): footprint density over popular cells is Zipfian —
AQE skew-join (enabled in session.py) splits oversized partitions at runtime,
and :func:`adaptive_salted_join` pre-splits pathological keys into salt
buckets sized from each key's row count, replicating the small side only
for those keys.  ROI-side joins broadcast (no shuffle at all); only
tile<->tile self-joins (stencil halos) pay a shuffle, on the cell key.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from geedim_spark import cells
from geedim_spark.kernels import map_batches


def cover_cells(
    df: DataFrame,
    x0: str, y0: str, x1: str, y1: str,
    res: int = cells.DEFAULT_RES,
    geo: bool = False,
) -> DataFrame:
    """Append exploded ``cell`` column covering each row's bbox.

    ``geo=True`` switches to the geographic grid: longitude wraps on the
    antimeridian (a bbox with x0 > x1 crosses it and covers two index
    ranges), latitude clamps at the poles."""
    cover = cells.col_geo_cover_bbox if geo else cells.col_cover_bbox
    return df.withColumn(
        "cell",
        F.explode(cover(F.col(x0), F.col(y0), F.col(x1), F.col(y1), res)),
    )


def lon_contains_col(x0: Column, x1: Column, p: Column) -> Column:
    """Circular-arc membership: Catalyst twin of
    geometry.lon_interval_contains."""
    return F.when(x0 <= x1, (x0 <= p) & (p <= x1)).otherwise((p >= x0) | (p <= x1))


def geo_bbox_intersects_col(
    ax0: Column, ay0: Column, ax1: Column, ay1: Column,
    bx0: Column, by0: Column, bx1: Column, by1: Column,
) -> Column:
    """Wrap-aware bbox intersection (two circular lon arcs intersect iff
    either contains the other's start) — Catalyst twin of
    geometry.geo_bbox_intersects."""
    lon = lon_contains_col(ax0, ax1, bx0) | lon_contains_col(bx0, bx1, ax0)
    return lon & (ay0 <= by1) & (ay1 >= by0)


def bbox_intersects_col(
    ax0: Column, ay0: Column, ax1: Column, ay1: Column,
    bx0: Column, by0: Column, bx1: Column, by1: Column,
) -> Column:
    """Closed-interval bbox intersection — Catalyst twin of
    :func:`geedim_spark.geometry.bbox_intersects`."""
    return (ax0 <= bx1) & (ax1 >= bx0) & (ay0 <= by1) & (ay1 >= by0)


def _refined_pairs(
    images: DataFrame,
    rois: DataFrame,
    res: int,
    broadcast_rois: bool,
    geo: bool,
) -> DataFrame:
    """Shared cover-join + exact refine: candidate (image, roi) rows before
    any distinct — single source of truth for the pair and semi joins."""
    img_cells = cover_cells(
        images.select("image_id", "x0", "y0", "x1", "y1"),
        "x0", "y0", "x1", "y1", res, geo=geo,
    )
    roi_sel = rois.select("roi_id", "rx0", "ry0", "rx1", "ry1")
    roi_cells = cover_cells(roi_sel, "rx0", "ry0", "rx1", "ry1", res, geo=geo)
    if broadcast_rois:
        roi_cells = F.broadcast(roi_cells)
    refine = geo_bbox_intersects_col if geo else bbox_intersects_col
    return images_join_refine(img_cells, roi_cells, refine)


def images_join_refine(img_cells, roi_cells, refine) -> DataFrame:
    return img_cells.join(roi_cells, "cell").where(
        refine(
            F.col("x0"), F.col("y0"), F.col("x1"), F.col("y1"),
            F.col("rx0"), F.col("ry0"), F.col("rx1"), F.col("ry1"),
        )
    )


def filter_bounds(
    images: DataFrame,
    rois: DataFrame,
    res: int = cells.DEFAULT_RES,
    broadcast_rois: bool = True,
    geo: bool = False,
) -> DataFrame:
    """images x ROIs intersects join -> distinct (image_id, roi_id) pairs.

    The cell equi-join bounds candidate pairs; the bbox refine makes the
    result exact (independent of ``res``).  ROIs broadcast by default (a
    region-of-interest table is a dim table even at 10^12 images).
    ``geo=True`` runs on the geographic grid: footprints and ROIs crossing
    the antimeridian (x0 > x1) cover both sides of the seam and the refine
    uses the wrap-aware circular-arc intersection.
    """
    exact = _refined_pairs(images, rois, res, broadcast_rois, geo)
    return exact.select("image_id", "roi_id").distinct()


def filter_bounds_semi(
    images: DataFrame,
    rois: DataFrame,
    res: int = cells.DEFAULT_RES,
    broadcast_ids: bool = True,
    geo: bool = False,
) -> DataFrame:
    """Images having >= 1 intersecting ROI (the reference's filterBounds
    keeps whole images; left-semi join back to the images table).

    ``broadcast_ids=True`` broadcasts the matched-id set so the (bytes-
    heavy) images table never shuffles — the right default whenever the ROI
    set selects << the broadcast threshold of ids.  Disable for joins where
    most of a 10^12-row table matches; the semi-join then shuffles on
    image_id (AQE picks the strategy)."""
    # project to image_id BEFORE the single distinct: the pair-level
    # distinct inside filter_bounds would shuffle the full candidate-pair
    # set only to be collapsed to ids immediately after
    matched = (
        _refined_pairs(images, rois, res, True, geo)
        .select("image_id").distinct()
    )
    if broadcast_ids:
        matched = F.broadcast(matched)
    return images.join(matched, "image_id", "left_semi")


def adaptive_salted_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    rows_per_task: int = 100_000,
    max_salt: int = 256,
    how: str = "inner",
) -> DataFrame:
    """Skew-adaptive equi-join (SURVEY §7.3 hard-part 3): the salt factor
    per key is sized from the key's actual row count, so hot keys pre-split
    into ceil(count / rows_per_task) buckets while the long tail pays ZERO
    replication (plain salt=1).

    One cheap count agg over the big side's key column (broadcast back as a
    (key, n_salt) dim) replaces the fixed global factor — at 10^12 rows a
    fixed salt either under-splits the Zipfian head or multiplies the tail
    by the factor for nothing.
    """
    if how not in ("inner", "left", "left_semi", "left_anti"):
        raise ValueError(
            f"adaptive_salted_join supports inner/left-side joins only (got {how!r})"
        )
    counts = big.groupBy(key).agg(F.count(F.lit(1)).alias("_cnt"))
    factors = counts.select(
        key,
        F.least(
            F.lit(max_salt),
            F.greatest(F.lit(1), F.ceil(F.col("_cnt") / F.lit(rows_per_task))),
        ).cast("int").alias("_n_salt"),
    )
    # persist: factors is consumed by BOTH join sides, and its lineage is a
    # full count scan of `big` — without the (lazy, tiny: one row per
    # distinct key) cache that scan would run twice.  The returned frame
    # carries the cache handle as `_salt_factors` for targeted unpersist.
    from pyspark import StorageLevel

    factors = factors.persist(StorageLevel.MEMORY_AND_DISK)
    salt_cols = [c for c, t in big.dtypes if not t.startswith("map")]
    # LEFT join + coalesce(1): an inner join here would silently DROP
    # big rows with NULL keys and small rows whose key is absent from big
    # (both must survive into the real join below with salt factor 1)
    big_s = (
        big.join(F.broadcast(factors), key, "left")
        .withColumn("_n_salt", F.coalesce(F.col("_n_salt"), F.lit(1)))
        .withColumn("_salt", F.pmod(F.xxhash64(*salt_cols), F.col("_n_salt")))
    )
    small_s = (
        small.join(F.broadcast(factors), key, "left")
        .withColumn("_n_salt", F.coalesce(F.col("_n_salt"), F.lit(1)))
        .withColumn("_salt", F.explode(F.sequence(F.lit(0), F.col("_n_salt") - 1)))
    )
    out = (
        big_s.join(small_s.drop("_n_salt"), [key, "_salt"], how)
        .drop("_salt", "_n_salt")
    )
    # handle for targeted cache release (clearCache() would nuke unrelated
    # caches): call out._salt_factors.unpersist() once the join result is
    # materialised / no longer needed
    out._salt_factors = factors
    return out


def nearest_roi(images: DataFrame, rois: DataFrame) -> DataFrame:
    """Assign every image to its NEAREST ROI by footprint-centre
    distance — the facility-assignment / nearest-ground-station shape
    (distinct from the intersects join: every image gets exactly one
    ROI even when nothing overlaps).

    The ROI table is a dim table even at 10^12 images, so it is
    collected (bounded, same contract as the IVF centroid collect and
    the zonal-stats zone closure) and folded as a CONSTANT array: per
    image one ``transform`` computes (d², roi_id) structs and
    ``array_min`` takes the lexicographic minimum — exact double
    arithmetic (every step correctly rounded, fixed order), ties broken
    by roi_id ASC via the struct compare.  Zero shuffle, zero UDF, no
    m-fold row blowup from a cross join.

    Output: (image_id, roi_id, d2) with d2 rounded to 6 dp.
    """
    import numpy as np
    import pandas as pd

    roi_rows = sorted(
        rois.select("roi_id", "rx0", "ry0", "rx1", "ry1").collect(),
        key=lambda r: r["roi_id"],
    )
    if not roi_rows:
        raise ValueError("rois is empty — nothing to assign to")
    # ROI centres as plain float arrays, ids in roi_id ASC order so the
    # kernel's argmin (first minimum) reproduces the struct-compare tie
    # rule (min d2, then min roi_id) exactly
    ecx = np.array([(r["rx0"] + r["rx1"]) / 2 for r in roi_rows])
    ecy = np.array([(r["ry0"] + r["ry1"]) / 2 for r in roi_rows])
    rids = np.array([r["roi_id"] for r in roi_rows])  # any orderable id type
    id_t = images.schema["image_id"].dataType.simpleString()
    rid_t = rois.schema["roi_id"].dataType.simpleString()

    def _assign(pdf):
        # one multiply + one add per (image, roi) — the identical IEEE
        # sequence the r5 Catalyst struct fold evaluated per-element ~m
        # times per row in the interpreter
        dx = pdf["cx"].to_numpy()[:, None] - ecx[None, :]
        dy = pdf["cy"].to_numpy()[:, None] - ecy[None, :]
        d2 = dx * dx + dy * dy
        best = d2.argmin(axis=1)
        return pd.DataFrame({
            "image_id": pdf["image_id"],
            "roi_id": rids[best],
            "d2": d2[np.arange(len(pdf)), best],
        })

    cx = (F.col("x0") + F.col("x1")) / 2
    cy = (F.col("y0") + F.col("y1")) / 2
    scored = map_batches(
        images.select("image_id", cx.alias("cx"), cy.alias("cy")),
        f"image_id {id_t}, roi_id {rid_t}, d2 double", _assign)
    # round stays in Catalyst: the JVM HALF_UP decimal rounding is the
    # oracle-checked form (replicating it bit-exactly in numpy is not)
    return scored.select(
        "image_id", "roi_id", F.round(F.col("d2"), 6).alias("d2"))
