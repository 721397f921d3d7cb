"""Collection-level operators: search/filter, compatibility checks.

Replicates the reference's ``ImageCollectionAccessor.filter()`` lifecycle
(/root/reference/geedim/collection.py:542-640):

1. date filter — ``end`` defaults to ``start + 1 ms`` (collection.py:597-599);
2. spatial bounds filter (collection.py:601-602) -> cell-cover join;
3. custom filter expression (collection.py:606-611) — applied **before** the
   expensive portion computation iff it doesn't reference
   FILL_PORTION / CLOUDLESS_PORTION (the predicate-ordering rule,
   collection.py:604-611; Catalyst can't reorder across the pixel-UDF
   barrier, so the API layer does);
4. sort by capture time (collection.py:639), over the cheap rows;
5. one kernel pass masks each remaining image once and appends its portions
   to its row, then the thresholds (collection.py:627-632); portions need
   a region (collection.py:590-594).
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from geedim_spark.kernels import with_columns
from geedim_spark.operators import masks
from geedim_spark.operators.spatial_join import filter_bounds_semi


def filter_date(images: DataFrame, start=None, end=None) -> DataFrame:
    """[start, end) time filter; end defaults to start + 1 ms
    (collection.py:597-599 — tested to make a single-instant window).
    Either bound may be None (end-only applies just the upper bound —
    previously an end without a start was silently ignored)."""
    if start is None and end is None:
        return images
    out = images
    if start is not None:
        start = _to_dt(start)
        if end is None:
            end = start + dt.timedelta(milliseconds=1)
        out = out.filter(F.col("time_start") >= F.lit(start))
    if end is not None:
        out = out.filter(F.col("time_start") < F.lit(_to_dt(end)))
    return out


def _to_dt(v):
    if isinstance(v, str):
        return dt.datetime.fromisoformat(v)
    return v


def expand_schema_filter(expr: str, collection_id: str | None) -> str:
    """Rewrite declared schema ABBREVIATIONS in a filter expression to the
    engine columns they name (the propertiesTable vocabulary,
    collection.py:233-292 + schema.py): DATE -> time_start, FILL /
    CLOUDLESS -> the portion columns, INDEX and sensor angles -> the props
    map (numeric props cast to double).  Only whole-word abbreviations from
    the collection's schema are touched; anything else passes through."""
    import re

    from geedim_spark import schema as gd_schema

    direct = {
        "DATE": "time_start",
        "FILL": "FILL_PORTION",
        "CLOUDLESS": "CLOUDLESS_PORTION",
        "INDEX": "props['system:index']",
    }
    # split on single-quoted SQL string literals so abbreviations inside
    # them (e.g. caption LIKE '%DATE%') are never rewritten
    parts = re.split(r"('(?:[^']|'')*')", expr)
    amap = gd_schema.abbrev_map(collection_id)
    sch = gd_schema.schema_for(collection_id)
    for i in range(0, len(parts), 2):  # even indices = outside literals
        seg = parts[i]
        # DATE is also a SQL keyword: protect its *type* positions — the
        # ANSI literal prefix (DATE '2024-01-01', i.e. DATE immediately
        # before a string literal, which after the split sits at this
        # segment's end) and CAST(x AS DATE) — before abbreviation rewrite
        protected: list[str] = []

        def _protect(m: "re.Match[str]") -> str:
            protected.append(m.group(0))
            return f"\x00{len(protected) - 1}\x00"

        seg = re.sub(r"\b[Aa][Ss]\s+DATE\b", _protect, seg)
        if i + 1 < len(parts):  # a string literal follows this segment
            seg = re.sub(r"\bDATE\s*$", _protect, seg)
        for abbrev, prop in amap.items():
            if abbrev in direct:
                repl = direct[abbrev]
            elif sch.get(prop, {}).get("dtype") == "string":
                # declared string-typed props (QC flags): a double cast
                # would NULL every row and silently empty the result
                repl = f"props['{prop}']"
            else:
                repl = f"cast(props['{prop}'] as double)"
            seg = re.sub(rf"\b{re.escape(abbrev)}\b", repl, seg)
        parts[i] = re.sub(
            r"\x00(\d+)\x00", lambda m: protected[int(m.group(1))], seg
        )
    return "".join(parts)


def search(
    images: DataFrame,
    start=None,
    end=None,
    rois: DataFrame | None = None,
    custom_filter: str | None = None,
    fill_portion: float | None = None,
    cloudless_portion: float | None = None,
    mask_opts: dict | None = None,
    collection_id: str | None = None,
) -> DataFrame:
    """Filter an image collection in the module docstring's steps; returns
    the matching rows (input multiplicity kept) sorted by capture time.
    ``custom_filter`` accepts the declared schema abbreviations (e.g.
    ``"SAA <= 180 and CLOUDLESS >= 60"``) when ``collection_id`` is given
    — see :func:`expand_schema_filter`."""
    if custom_filter and collection_id is not None:
        custom_filter = expand_schema_filter(custom_filter, collection_id)
    filter_wants_portions = bool(custom_filter) and any(
        p in custom_filter.lower() for p in ("fill_portion", "cloudless_portion")
    )
    want_portions = (fill_portion is not None or cloudless_portion is not None
                     or filter_wants_portions)
    if want_portions and rois is None:
        # collection.py:590-594: portions, as kwargs or named in the filter,
        # need a region (the reference never produces whole-image portions)
        raise ValueError(
            "fill_portion / cloudless_portion (as kwargs or referenced in "
            "custom_filter) requires a region (rois)."
        )

    out = images
    if start is not None or end is not None:
        out = filter_date(out, start, end)
    if rois is not None:
        out = filter_bounds_semi(out, rois)
    # predicate-ordering rule: cheap custom filter before pixel decode when
    # it doesn't reference portion properties (collection.py:604-611)
    if custom_filter and not filter_wants_portions:
        out = out.filter(F.expr(custom_filter))
    # sort the cheap rows (collection.py:639): the kernel and the filters
    # below keep row order, and the range sampler never runs the kernel
    out = out.orderBy("time_start")
    if not want_portions:
        return out
    counts = with_columns(
        out, masks._IMAGE_COLS,
        "total_px long, fill_px long, cloud_px long, shadow_px long, cloudless_px long",
        lambda *row: masks.mask_stats_row(*row, **(mask_opts or {}))[1:],
    )
    out = masks.with_portions(counts).select(
        *out.columns,
        F.col("fill_portion").alias("FILL_PORTION"),
        F.col("cloudless_portion").alias("CLOUDLESS_PORTION"),
    )
    for col, lo in (("FILL_PORTION", fill_portion), ("CLOUDLESS_PORTION", cloudless_portion)):
        if lo is not None:
            out = out.filter(F.col(col) >= lo)
    if filter_wants_portions:
        out = out.filter(F.expr(custom_filter))
    return out


MAX_EXPORT_IMAGES = 5000  # hard cap per export (collection.py:102)
EXPORT_SIZE_WARNING = 10e9  # soft cap per image, bytes (tile.py:201-208)


def check_export_guards(images: DataFrame, bands: int = 2, dtype_size: int = 2) -> int:
    """Pre-export validation (collection.py:421-463 + tile.py:193-208):
    enforce the 5000-image cap, warn past 10 GB raw size, and require a
    consistent pixel grid (single (w, h)) across the collection.
    Returns the image count (one metadata aggregate, no pixel IO)."""
    import warnings

    agg = images.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("w", "h").alias("n_grids"),
        F.max(F.col("w").cast("long") * F.col("h")).alias("max_px"),
    ).first()
    if agg["n"] > MAX_EXPORT_IMAGES:
        raise ValueError(
            f"Export exceeds the {MAX_EXPORT_IMAGES}-image cap: {agg['n']} images."
        )
    if agg["n_grids"] > 1:
        raise ValueError(
            "Inconsistent pixel grids across the collection "
            f"({agg['n_grids']} distinct (w, h) shapes) — split the export."
        )
    # PER-IMAGE cap (tile.py:201-208): the reference warns when a single
    # image's export exceeds the limit, not the whole collection's sum —
    # a bulk export of many small images is normal
    raw = (agg["max_px"] or 0) * bands * dtype_size
    if raw > EXPORT_SIZE_WARNING:
        warnings.warn(
            f"Largest image raw export ~{raw / 1e9:.1f} GB exceeds 10 GB; "
            "consider reducing bounds/resolution/dtype.",
            RuntimeWarning, stacklevel=2,
        )
    return int(agg["n"])


def check_compatible_collections(images: DataFrame) -> list[str]:
    """fromImages compatibility check (collection.py:65-81,124-160): all rows
    must share a collection, or be spectrally compatible Landsat collections —
    ids matching ``(LANDSAT/\\w{2})\\d{2}(/.*)`` with identical 2-letter sensor
    prefix and identical suffix, any 2-digit spacecraft number (Landsat-8 with
    Landsat-9, Landsat-4 with Landsat-5; different processing suffixes like
    C01 vs C02 are incompatible)."""
    import re

    # NULL sorts last (None and str do not compare), so a NULL next to a
    # named collection fails the loop below like any other mismatch
    ids = sorted(
        (r["collection"] for r in
         images.select("collection").distinct().collect()),
        key=lambda c: (c is None, c or ""),
    )
    if len(ids) <= 1:
        return ids
    # fullmatch, not search: an unanchored pattern let extra prefixes /
    # suffixes ride along ('...T1_L2_EXTRA' passed against '...T1_L2')
    landsat_re = re.compile(r"(LANDSAT/\w{2})(\d{2})(/.*)")
    m0 = ids[0] and landsat_re.fullmatch(ids[0])
    for name in ids[1:]:
        if name and m0:
            variant = re.compile(
                rf"{re.escape(m0.group(1))}\d\d{re.escape(m0.group(3))}"
            )
            if not variant.fullmatch(name):
                raise ValueError(f"Incompatible collections: {ids}")
        elif name != ids[0]:
            raise ValueError(f"Incompatible collections: {ids}")
    return ids


def revisit_stats(images: DataFrame, cell_size: float = 10000.0) -> DataFrame:
    """Per-grid-cell revisit statistics: how often is each spatial cell
    re-observed?  The collection-planning statistic behind "does this
    AOI have a usable time series" — gaps between consecutive
    acquisitions whose footprint ORIGIN falls in the same square cell.

    The cell key is the footprint origin's integer cell
    (floor(x0 / cell_size), floor(y0 / cell_size)) — exact integer
    arithmetic, so the grouping is reproducible cross-engine.  Gaps are
    exact integer seconds between consecutive ``time_start`` values
    within a cell (ordered by time, image_id tiebreak).

    Scale shape (100 TB): one narrow projection, then a window
    PARTITIONED BY the cell key — bounded by images-per-cell, never
    global — and a 2-phase hash aggregate per cell.  No UDF, no
    global sort; cells shard the collection evenly by construction.

    Returns one row per cell holding >= 1 image:
    (cell_x, cell_y, n_images, n_gaps, max_gap_s, sum_gap_s, mean_gap_s).
    """
    if cell_size <= 0:
        raise ValueError(f"cell_size must be > 0, got {cell_size}")
    from pyspark.sql.window import Window

    base = images.select(
        F.floor(F.col("x0") / cell_size).cast("long").alias("cell_x"),
        F.floor(F.col("y0") / cell_size).cast("long").alias("cell_y"),
        "image_id",
        F.unix_timestamp("time_start").alias("ts_s"),
    )
    w = Window.partitionBy("cell_x", "cell_y").orderBy("ts_s", "image_id")
    gaps = base.withColumn("gap_s", F.col("ts_s") - F.lag("ts_s").over(w))
    return gaps.groupBy("cell_x", "cell_y").agg(
        F.count(F.lit(1)).cast("long").alias("n_images"),
        F.count("gap_s").cast("long").alias("n_gaps"),
        F.max("gap_s").cast("long").alias("max_gap_s"),
        F.coalesce(F.sum("gap_s"), F.lit(0)).cast("long").alias("sum_gap_s"),
        F.round(
            F.when(F.count("gap_s") > 0,
                   F.sum("gap_s").cast("double") / F.count("gap_s"))
            .otherwise(F.lit(0.0)), 6).alias("mean_gap_s"),
    )
