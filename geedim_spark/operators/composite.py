"""Compositing: reduce a stack of co-registered images to one image.

Reference semantics (/root/reference/geedim/collection.py:642-724,
medoid.py, enums.py:40-63):

- ``mosaic``    — first unmasked pixel in collection order (sorted);
- ``q-mosaic``  — per-pixel argmax of CLOUD_DIST (quality mosaic,
                  collection.py:700-701): the pixel furthest from cloud wins;
- ``median``/``mean``/``mode`` — masked pixelwise statistics;
- ``medoid``    — per-pixel: value of the image minimising the summed
                  spectral distance (sqrt-SED) to all other images
                  (medoid.py:25-117, O(N^2) pairwise);
- sort orderings: by capture time (default), by |t - date| (descending, so
  closest-to-date wins the mosaic), by CLOUDLESS_PORTION ascending
  (collection.py:392-418);
- composite metadata: ``system:index = '{METHOD}-COMP'``, time range =
  min/max of inputs (collection.py:710-724).

Spark shape: a pixel stack is a group.  For co-registered collections the
group key is the tile coordinate; ``applyInPandas`` stacks co-located tiles
(Arrow batches) and reduces with numpy.  Determinism across parallelism:
ties and "first" are resolved by explicit (sort_key, image_id) total order —
never partition order (SURVEY §7.3 hard-part 6).
"""

from __future__ import annotations

import warnings

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from geedim_spark import codecs
from geedim_spark.kernels import map_rows
from geedim_spark.operators import masks
from geedim_spark.operators.tiler import tile_windows

METHODS = ("mosaic", "q-mosaic", "median", "mean", "mode", "medoid")


# ---------------------------------------------------------------------------
# numpy kernels over a (N, bands, h, w) stack + (N, h, w) validity
# ---------------------------------------------------------------------------

def composite_stack(
    stack: np.ndarray,
    valid: np.ndarray,
    method: str,
    clouddist: np.ndarray | None = None,
    medoid_metric: str = "sed",
) -> tuple[np.ndarray, np.ndarray]:
    """Reduce the image axis.  ``stack`` is ordered worst-to-best (reference
    sorts ascending so the *last* unmasked wins the EE mosaic; we pre-sort
    best-first and take the first unmasked — same result, explicit).

    Returns (composite (bands,h,w) float64, out_valid (h,w)).
    """
    n, bands, h, w = stack.shape
    out_valid = valid.any(axis=0)
    if method == "mosaic":
        # index of first valid image per pixel
        first = np.argmax(valid, axis=0)  # (h, w)
        comp = np.take_along_axis(
            stack, first[None, None, :, :], axis=0
        )[0]
    elif method == "q-mosaic":
        if clouddist is None:
            raise ValueError("q-mosaic requires a cloud distance stack")
        # argmax CLOUD_DIST among valid pixels; ties -> earlier stack index
        # (stack is pre-sorted by (sort_key desc, image_id) so ties are
        # deterministic)
        cd = np.where(valid, clouddist.astype(np.float64), -1.0)
        best = np.argmax(cd, axis=0)
        comp = np.take_along_axis(stack, best[None, None, :, :], axis=0)[0]
    elif method in ("median", "mean"):
        ma = np.ma.masked_array(
            stack.astype(np.float64),
            mask=np.broadcast_to(~valid[:, None, :, :], stack.shape),
        )
        comp = (np.ma.median(ma, axis=0) if method == "median"
                else ma.mean(axis=0)).filled(np.nan)
    elif method == "mode":
        comp = _masked_mode(stack, valid)
    elif method == "medoid":
        comp = _medoid(stack, valid, medoid_metric)
    else:
        raise ValueError(f"unknown composite method {method!r}")
    return comp, out_valid


def _masked_mode(stack: np.ndarray, valid: np.ndarray) -> np.ndarray:
    """Pixelwise most-frequent value among valid pixels; ties -> smallest
    value (deterministic).

    Vectorised sort + run-length form (no per-pixel Python): sort each
    pixel's values ascending with invalid as +inf (sorts last), count each
    value's run length cumulatively, and take the FIRST position achieving
    the maximal count — within a run counts peak at its end, and between
    equal-count runs the earlier (smaller-value) run's end comes first."""
    n = stack.shape[0]
    s = np.where(valid[:, None, :, :], stack.astype(np.float64), np.inf)
    s.sort(axis=0)
    is_new = np.ones(s.shape, dtype=bool)
    is_new[1:] = s[1:] != s[:-1]
    pos = np.arange(n, dtype=np.int64).reshape(-1, 1, 1, 1)
    run_start = np.where(is_new, pos, 0)
    np.maximum.accumulate(run_start, axis=0, out=run_start)
    counts = pos - run_start + 1
    counts[np.isinf(s)] = 0                      # invalid runs never win
    best = counts.argmax(axis=0)                 # first max -> smallest value
    comp = np.take_along_axis(s, best[None], axis=0)[0]
    return np.where(np.isinf(comp), np.nan, comp)


_SPECTRAL_EPS = 1e-12


def spectral_distance(
    s: np.ndarray, sj: np.ndarray, metric: str = "sed"
) -> np.ndarray:
    """Pairwise per-pixel spectral distance between an image stack ``s``
    ((N, bands, h, w)) and one image ``sj`` ((bands, h, w)) — the metrics
    of the reference's SpectralDistanceMetric enum (enums.py:137-152),
    matching ee.Image.spectralDistance semantics:

    - ``sed``: squared euclidean distance, sqrt-scaled like the reference
      medoid (medoid.py:59-63) so distances are summable;
    - ``sam``: spectral angle mapper (radians);
    - ``sid``: spectral information divergence over band distributions;
    - ``emd``: 1-D earth mover's distance between the band distributions
      (bands as ordered bins; the closed form is the L1 distance of the
      normalised cumulative spectra).

    sid/emd normalise each spectrum to a distribution (EPS-floored, so
    all-zero/nodata spectra yield 0 distance instead of NaN — such pixels
    are excluded by the validity mask anyway)."""
    if metric == "sed":
        return np.sqrt(((s - sj) ** 2).sum(axis=1))
    if metric == "sam":
        dot = (s * sj).sum(axis=1)
        na = np.sqrt((s ** 2).sum(axis=1))
        nb = np.sqrt((sj ** 2).sum(axis=0))[None]  # sj is (bands, h, w)
        cos = np.clip(dot / np.maximum(na * nb, _SPECTRAL_EPS), -1.0, 1.0)
        return np.arccos(cos)
    if metric in ("sid", "emd"):
        p = s / np.maximum(s.sum(axis=1, keepdims=True), _SPECTRAL_EPS)
        q = sj / np.maximum(sj.sum(axis=0, keepdims=True), _SPECTRAL_EPS)
        p = np.maximum(p, _SPECTRAL_EPS)
        q = np.maximum(q, _SPECTRAL_EPS)
        if metric == "sid":
            return ((p - q) * (np.log(p) - np.log(q))).sum(axis=1)
        return np.abs(
            np.cumsum(p, axis=1) - np.cumsum(q, axis=0)[None]
        ).sum(axis=1)
    raise ValueError(f"unknown spectral distance metric {metric!r}")


def _medoid(
    stack: np.ndarray, valid: np.ndarray, metric: str = "sed"
) -> np.ndarray:
    """Per-pixel medoid: choose the image minimising sum over others of the
    spectral distance (default sqrt-SED, medoid.py:59-63; ``metric`` picks
    any of :func:`spectral_distance`'s metrics like the reference medoid
    module's parameter).

    O(N^2) pairwise distances computed INCREMENTALLY (one slab of
    differences per step) — the closed-form (N, N, bands, h, w) tensor is
    4.3 GB for 64 2-band 256px images, an executor OOM; this loop holds
    O(N * image) peak memory for the identical result.  Only the UPPER
    TRIANGLE is evaluated: every metric here is symmetric (sed/sam by
    construction, sid is the symmetrised divergence, emd is |cumsum
    diff|) and the diagonal is 0, so each pair's distance is computed
    once and credited to both images — halving the kernel's FLOPs
    (medoid.py:88-90's own duplicate-work TODO)."""
    s = stack.astype(np.float64)
    n = s.shape[0]
    sumdist = np.zeros((n,) + s.shape[2:], dtype=np.float64)
    for j in range(n - 1):
        d_j = spectral_distance(s[j + 1:], s[j], metric)  # (N-j-1, h, w)
        both = valid[j + 1:] & valid[j]
        contrib = np.where(both, d_j, 0.0)
        sumdist[j + 1:] += contrib
        sumdist[j] += contrib.sum(axis=0)
    sumdist = np.where(valid, sumdist, np.inf)
    best = np.argmin(sumdist, axis=0)             # ties -> lowest index
    return np.take_along_axis(stack, best[None, None, :, :], axis=0)[0].astype(np.float64)


# ---------------------------------------------------------------------------
# Spark operator
# ---------------------------------------------------------------------------

def sort_for_composite(
    images: DataFrame,
    method: str,
    date: str | None = None,
    by_portion: bool = False,
) -> DataFrame:
    """Attach ``sort_key`` (bigger = better / wins).  Mirrors
    collection.py:392-418: closest-to-date wins when ``date`` given; else
    highest CLOUDLESS_PORTION when ``by_portion``; else latest capture.
    ``method`` is validated (the ordering itself is method-independent;
    order only decides mosaic/q-mosaic tie-winners)."""
    if method not in METHODS:
        raise ValueError(f"unknown composite method {method!r} (not in {METHODS})")
    if date is not None:
        dist = F.abs(
            F.col("time_start").cast("double") - F.to_timestamp(F.lit(date)).cast("double")
        )
        return images.withColumn("sort_key", -dist)
    if by_portion:
        return images.withColumn("sort_key", F.col("CLOUDLESS_PORTION"))
    return images.withColumn("sort_key", F.col("time_start").cast("double"))


_COMP_SCHEMA = "group_id string, bytes binary, n_inputs int, n_used int"


def composite_collection(
    images: DataFrame,
    method: str = "mosaic",
    group_col: str | None = None,
    mask_opts: dict | None = None,
    scale: float = 10.0,
    medoid_max_stack: int = 64,
    max_cloud_dist: float = 5000.0,
    medoid_metric: str = "sed",
) -> DataFrame:
    """Composite co-registered images (same w/h grid) per group.

    Groups (default: one global group) are stacked inside ``applyInPandas``;
    order within the stack is (sort_key desc, image_id asc) — explicit total
    order so results are identical across parallelism.  Output pixels are
    float64 re-encoded raw; NaN marks all-masked pixels.
    """
    mask_opts = mask_opts or {}
    src = images.withColumn(
        "group_id",
        F.col(group_col) if group_col else F.lit("all"),
    )
    if "sort_key" not in src.columns:
        src = src.withColumn("sort_key", F.col("time_start").cast("double"))
    src = masks._with_time_start(src).select(
        "group_id", "image_id", "bytes", "collection", "sort_key", "time_start"
    )

    def _comp(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(
            ["sort_key", "image_id"], ascending=[False, True], ignore_index=True
        )
        n_total = len(pdf)
        pdf = _cap_medoid_stack(pdf, method, medoid_max_stack, "group")
        stacks, valids, dists = [], [], []
        for buf, coll, ts in zip(pdf["bytes"], pdf["collection"], pdf["time_start"]):
            px, _, m = masks.image_masks(buf, coll, ts, **mask_opts)
            stacks.append(px)
            valids.append(m["CLOUDLESS_MASK"])
            if method == "q-mosaic":
                dists.append(masks.cloud_dist(
                    m["CLOUDLESS_MASK"], scale, max_cloud_dist,
                    fill=m["FILL_MASK"],
                ))
        stack = np.stack(stacks)
        valid = np.stack(valids)
        cd = np.stack(dists) if dists else None
        comp, out_valid = composite_stack(stack, valid, method, cd,
                                          medoid_metric=medoid_metric)
        comp = np.where(out_valid[None, :, :], comp, np.nan)
        return pd.DataFrame([{
            "group_id": pdf["group_id"].iloc[0],
            "bytes": codecs.encode_raw(comp.astype(np.float64)),
            "n_inputs": n_total,
            "n_used": len(pdf),
        }])

    return src.groupBy("group_id").applyInPandas(_comp, schema=_COMP_SCHEMA)


_PERIOD_FMT = {
    "year": "yyyy", "month": "yyyy-MM", "week": "yyyy-MM-dd",
    "day": "yyyy-MM-dd",
}


def composite_by_period(
    images: DataFrame, period: str = "month", method: str = "median",
    **kwargs,
) -> DataFrame:
    """Calendar-period composites (monthly/seasonal rollups — the classic
    EO time-series product): one composite per ``date_trunc(period)`` of
    each image's time_start, labelled with a sortable string key
    (e.g. '2024-01' for month).

    Scale shape: identical to :func:`composite_collection` — periods
    PARTITION the collection, so each applyInPandas group holds only that
    period's images and different periods composite in parallel; no
    global state.  For per-period stacks larger than a task, use
    :func:`composite_tiled` with the period key added to the tile key.
    """
    if period not in _PERIOD_FMT:
        raise ValueError(
            f"period must be one of {sorted(_PERIOD_FMT)}, got {period!r}"
        )
    src = masks._with_time_start(images).withColumn(
        "_period",
        F.date_format(
            F.date_trunc(period, F.col("time_start")), _PERIOD_FMT[period]
        ),
    )
    return composite_collection(src, method, group_col="_period", **kwargs)


def _cap_medoid_stack(
    pdf: pd.DataFrame, method: str, medoid_max_stack: int, unit: str
) -> pd.DataFrame:
    """Bound the medoid's O(N^2) pairwise-distance stack (the reference's
    own medoid TODO admits the cost, medoid.py:88-90; its exports are
    capped at 5000 images, collection.py:102): groups beyond the cap keep
    the best ``medoid_max_stack`` inputs by the already-applied explicit
    (sort_key desc, image_id asc) total order.  This is a DEPARTURE from
    the reference medoid (computed over all inputs); it is reported loudly
    — a RuntimeWarning here, plus n_used < n_inputs (whole-image) /
    n_inputs > medoid_max_stack (tiled) in the output rows."""
    if method != "medoid" or len(pdf) <= medoid_max_stack:
        return pdf
    warnings.warn(
        f"medoid {unit} of {len(pdf)} exceeds medoid_max_stack="
        f"{medoid_max_stack}: using the best {medoid_max_stack} inputs by "
        "sort order (the n_inputs/n_used output columns report the "
        "truncation)",
        RuntimeWarning, stacklevel=2,
    )
    return pdf.iloc[:medoid_max_stack]


_TILED_SCHEMA = "tr int, tc int, bytes binary, n_inputs int"


def _pixel_tiles(
    images: DataFrame, tile_h: int, tile_w: int, mask_opts: dict
) -> DataFrame:
    """Stage 1 of the tile-keyed composites: decode each image once, emit
    pixel tiles plus a 3-state validity plane per tile (0 = invalid /
    1 = filled-cloudy / 2 = cloudless — one uint8 plane carries both masks
    so q-mosaic reducers can compute CLOUD_DIST with cloud-only sources,
    mask.py:102-104).  A caller-attached ``sort_key`` is honoured;
    otherwise capture time is the order."""
    # _with_time_start backfills NULL when the column is absent (a frame
    # carrying only a caller-attached sort_key is a valid input, same as
    # composite_collection)
    images = masks._with_time_start(images)
    if "sort_key" not in images.columns:
        images = images.withColumn(
            "sort_key", F.col("time_start").cast("double")
        )

    def _row(image_id, buf, coll, ts, sk):
        px, _, m = masks.image_masks(buf, coll, ts, **mask_opts)
        valid = (
            m["FILL_MASK"].astype(np.uint8)
            + m["CLOUDLESS_MASK"].astype(np.uint8)
        )
        _, h, w = px.shape
        n_tr = -(-h // tile_h)
        n_tc = -(-w // tile_w)
        for (tr, tc), ((r0, r1), (c0, c1)) in tile_windows(
            (h, w), (tile_h, tile_w)
        ):
            yield (
                image_id, sk, tr, tc, n_tr, n_tc,
                codecs.encode_raw(px[:, r0:r1, c0:c1]),
                codecs.encode_raw(valid[None, r0:r1, c0:c1]),
            )

    return map_rows(
        images, [*masks._IMAGE_COLS, "sort_key"],
        "image_id string, sort_key double, tr int, tc int, "
        "n_tr int, n_tc int, tile_bytes binary, valid_bytes binary",
        _row,
    )


def composite_tiled(
    images: DataFrame,
    method: str = "mosaic",
    tile_h: int = 16,
    tile_w: int = 16,
    mask_opts: dict | None = None,
    scale: float = 10.0,
    medoid_metric: str = "sed",
    max_cloud_dist: float = 5000.0,
    medoid_max_stack: int = 64,
) -> DataFrame:
    """Composite with the **tile coordinate as the group key** — the shape
    that survives 10^12 images: a whole-image stack (composite_collection)
    needs every co-located image on one task, while here each (tr, tc) cell
    stacks only its own tile rows, so the shuffle key cardinality is the
    tile grid and memory per task is bounded by n_images x tile_size.

    Stage 1 (narrow): decode each image once, emit its tiles.
    Stage 2 (shuffle on (tr, tc)): stack + reduce per tile.

    Tiling exactness: mosaic/mean/median/mode/medoid are PIXELWISE, so the
    tiled result equals the whole-image composite bit-for-bit (tested in
    test_composite.py).  q-mosaic's CLOUD_DIST is an EDT — here it is
    computed per tile (a cloudless tile reports the clamp distance), which
    equals the whole-image EDT only when every tile dimension is >=
    ceil(max_cloud_dist/scale); smaller tiles give *per-tile* q-mosaic
    semantics (what the driver query documents and oracles).  For
    whole-image EDT semantics at scale use
    :func:`composite_tiled_qmosaic_halo` — the DEFAULT q-mosaic route of
    ``api.Collection.composite_tiled``; this per-tile form is the
    explicit opt-in for when the saturation caveat is acceptable.

    A caller-attached ``sort_key`` column (sort_for_composite) is honoured,
    matching composite_collection; otherwise capture time is the order.

    ``medoid_max_stack`` bounds the medoid's O(N^2) pairwise-distance work
    per tile group, exactly like composite_collection's guard (the
    reference's own medoid TODO admits the cost, medoid.py:88-90, and its
    exports are capped at 5000 images, collection.py:102): groups larger
    than the cap keep the best ``medoid_max_stack`` inputs by the explicit
    (sort_key desc, image_id asc) order — the SAME subset in every tile,
    so the capped tiled result still equals the capped whole-image result
    bit-for-bit — with a loud RuntimeWarning; ``n_inputs`` in the output
    keeps reporting the ORIGINAL group size so the truncation is visible
    downstream (n_inputs > medoid_max_stack == truncated).
    """
    mask_opts = mask_opts or {}
    tiles = _pixel_tiles(images, tile_h, tile_w, mask_opts)

    def _reduce(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(
            ["sort_key", "image_id"], ascending=[False, True], ignore_index=True
        )
        n_total = len(pdf)
        pdf = _cap_medoid_stack(pdf, method, medoid_max_stack, "tile group")
        stack = np.stack([codecs.decode(bytes(b)) for b in pdf["tile_bytes"]])
        codes = np.stack(
            [codecs.decode(bytes(b))[0] for b in pdf["valid_bytes"]]
        )
        valid = codes >= 2
        cd = None
        if method == "q-mosaic":
            cd = np.stack([
                masks.cloud_dist(c >= 2, scale, max_cloud_dist, fill=c >= 1)
                for c in codes
            ])
        comp, out_valid = composite_stack(stack, valid, method, cd,
                                          medoid_metric=medoid_metric)
        comp = np.where(out_valid[None, :, :], comp, np.nan)
        return pd.DataFrame([{
            "tr": int(pdf["tr"].iloc[0]), "tc": int(pdf["tc"].iloc[0]),
            "bytes": codecs.encode_raw(comp.astype(np.float64)),
            "n_inputs": n_total,
        }])

    return tiles.groupBy("tr", "tc").applyInPandas(_reduce, schema=_TILED_SCHEMA)


def composite_tiled_qmosaic_halo(
    images: DataFrame,
    tile_h: int = 16,
    tile_w: int = 16,
    mask_opts: dict | None = None,
    scale: float = 10.0,
    max_cloud_dist: float = 5000.0,
) -> DataFrame:
    """Tile-keyed q-mosaic with WHOLE-IMAGE CLOUD_DIST semantics at
    tile-bounded memory — removes composite_tiled's one documented
    q-mosaic caveat (per-tile EDT saturates tiles far from any cloud).

    Plan: (1) ONE decode+mask pass (_pixel_tiles) whose uint8 valid plane
    IS the 3-state code plane (0 invalid / 1 filled-cloudy / 2 cloudless);
    the frame is persisted (MEMORY_AND_DISK, lazy) because both the halo
    branch and the final join consume it — without the cache the expensive
    kernel would run twice per image; (2) halo-join EDT over the code
    tiles (stencil.halo_apply + cloud_dist_code_kernel, halo = the clamp
    reach, so each tile's distances equal the whole-image transform
    exactly incl. the uint16 floor); (3) equi-join dist tiles back onto
    the pixel tiles on the compact (image_id, tr, tc) key; (4) groupBy
    (tr, tc) argmax reduce.  Two shuffles on integer grid keys, task
    memory bounded by n_images x tile_size — the same scale contract as
    composite_tiled.  The returned frame carries the cache handle as
    ``_tile_cache`` for targeted unpersist; long sessions can
    ``spark.catalog.clearCache()``.
    """
    import math as _math

    from pyspark import StorageLevel

    from geedim_spark.operators import stencil

    mask_opts = mask_opts or {}
    halo = int(_math.ceil(max_cloud_dist / scale))
    tiles = _pixel_tiles(images, tile_h, tile_w, mask_opts).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    codes = tiles.select(
        "image_id", "tr", "tc", "n_tr", "n_tc",
        F.col("valid_bytes").alias("tile_bytes"),
    )
    dists = stencil.halo_apply(
        codes, stencil.cloud_dist_code_kernel(scale, max_cloud_dist),
        halo_px=halo, tile_h=tile_h, tile_w=tile_w, out_dtype="float64",
    ).select(
        "image_id", "tr", "tc", F.col("tile_bytes").alias("dist_bytes")
    )
    joined = tiles.join(dists, ["image_id", "tr", "tc"])

    def _reduce(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(
            ["sort_key", "image_id"], ascending=[False, True], ignore_index=True
        )
        stack = np.stack([codecs.decode(bytes(b)) for b in pdf["tile_bytes"]])
        codes = np.stack(
            [codecs.decode(bytes(b))[0] for b in pdf["valid_bytes"]]
        )
        cd = np.stack(
            [codecs.decode(bytes(b))[0] for b in pdf["dist_bytes"]]
        )
        comp, out_valid = composite_stack(stack, codes >= 2, "q-mosaic", cd)
        comp = np.where(out_valid[None, :, :], comp, np.nan)
        return pd.DataFrame([{
            "tr": int(pdf["tr"].iloc[0]), "tc": int(pdf["tc"].iloc[0]),
            "bytes": codecs.encode_raw(comp.astype(np.float64)),
            "n_inputs": len(pdf),
        }])

    out = joined.groupBy("tr", "tc").applyInPandas(_reduce, schema=_TILED_SCHEMA)
    out._tile_cache = tiles
    return out


def composite_metadata(images: DataFrame, method: str) -> DataFrame:
    """'{METHOD}-COMP' index + input time range (collection.py:710-724)."""
    agg = images.agg(
        F.min("time_start").alias("time_start"),
        F.max("time_start").alias("time_end"),
        F.count(F.lit(1)).cast("long").alias("n_inputs"),
    )
    name = method.upper().replace("-", "_")
    return agg.select(
        F.lit(f"{name}-COMP").alias("system_index"),
        "time_start", "time_end", "n_inputs",
    )
