"""Cloud/shadow/fill mask engine — geedim's mask semantics as numpy kernels
driven by Arrow-batched pandas UDFs.

The per-pixel formulas reproduce /root/reference/geedim/mask.py exactly:

- fill mask        = allNonZero over reflectance-band validity (mask.py:38,176-179,494-499)
- Landsat cloud    = QA_PIXEL bit 9 | bit 1 (| bit 15 if mask_cirrus) (mask.py:181-189)
- Landsat shadow   = QA_PIXEL bit 11 (mask.py:191-196)
- saturation       = QA_RADSAT != 0 (mask.py:198-202)
- SR nonphysical   = min(SR_B*) < (0+0.2)/0.0000275 | max(SR_B*) > (1+0.2)/0.0000275
                     (mask.py:228-239)
- aerosol          = SR_QA_AEROSOL & (3<<6) == 3<<6 (mask.py:255-262)
- S2 cloud-score   = score <= threshold (on cs | cs_cdf band); unmatched score
                     image -> score-dependent bands fully masked (mask.py:304-329,403-416)
- S2 QA60          = bit 10 (| bit 11 if mask_cirrus), invalid 2022-02..2024-02
                     (mask.py:374-391)
- S2 cloud-prob    = prob >= threshold (mask.py:393-401)
- S2 cast shadow   = directional projection of cloud mask along
                     (90 - MEAN_SOLAR_AZIMUTH_ANGLE) up to shadow_dist,
                     intersected with dark pixels B8 < dark*1e4 (& SCL != 6
                     for SR) (mask.py:331-372)
- morphological open(20 m) + dilate(buffer) on qa/prob combined masks
  (mask.py:466-472)
- CLOUDLESS        = ~combined & fill (mask.py:204-207, 501-506)
- CLOUD_DIST       = clamp(sqrt(EDT2(~cloudless)) * scale, 0, max_cloud_dist)
                     as uint16 (mask.py:88-124) — exact clamp-bounded
                     offset-sweep EDT instead of EE fastDistanceTransform
- portions         = FILL_PORTION = 100*fill/total;
                     CLOUDLESS_PORTION = 100*cloudless/fill (mask.py:135-151);
                     pinned to 100 for collections without cloud support
                     (mask.py:66-82); bestEffort 1e6-pixel grid decimation
                     (mask.py:78) replicated via stride sampling

Spark shape: per-image stats are one ``kernels.map_rows`` pass (a row is a
whole image -> no shuffle); the tiled path does per-tile partial counts + a
``groupBy(image_id)`` 2-phase hash agg (A1/A2 in SURVEY.md §2.4).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from geedim_spark import codecs
from geedim_spark.kernels import map_rows

# synthetic band layout of the input table (2-band: data + QA)
BAND_NAMES = ("B1", "QA_PIXEL")

MAX_REGION_STAT_PIXELS = 1_000_000  # mask.py:78 maxPixels=1e6 bestEffort

# Landsat SR non-physical reflectance limits (mask.py:230)
SR_NONPHYSICAL_LIMS = tuple((v + 0.2) / 0.0000275 for v in (0.0, 1.0))

_QA_CLOUD_MID = 1 << 9      # mask.py:183
_QA_CLOUD_DILATED = 1 << 1  # mask.py:184
_QA_CIRRUS = 1 << 15        # mask.py:187
_QA_SHADOW = 1 << 11        # mask.py:194
_QA60_CLOUD = 1 << 10       # mask.py:387
_QA60_CIRRUS = 1 << 11      # mask.py:389
_S2_AEROSOL_HIGH = 3 << 6   # mask.py:258


# ---------------------------------------------------------------------------
# numpy kernels (unit-testable without Spark)
# ---------------------------------------------------------------------------

def fill_mask(refl_bands: np.ndarray, nodata=0) -> np.ndarray:
    """allNonZero over band validity: True where every band is valid.
    For float inputs NaN is also invalid (composites mark all-masked pixels
    NaN — counting them as filled inflated coverage stats)."""
    valid = refl_bands != nodata
    if np.issubdtype(refl_bands.dtype, np.floating):
        valid &= ~np.isnan(refl_bands)
    return np.all(valid, axis=0)


def landsat_masks(
    bands: dict[str, np.ndarray],
    mask_shadows: bool = True,
    mask_cirrus: bool = True,
    mask_saturation: bool = False,
    mask_nonphysical: bool = False,
    mask_aerosols: bool = False,
    nodata=0,
) -> dict[str, np.ndarray]:
    """Landsat C2 mask bands (mask.py:154-263 semantics, incl. SR variants)."""
    refl_names = [n for n in bands if n.startswith(("B", "SR_B"))]
    refl = np.stack([bands[n] for n in refl_names])
    out = {"FILL_MASK": fill_mask(refl, nodata)}

    qa = bands["QA_PIXEL"].astype(np.int64)
    cloud = ((qa & _QA_CLOUD_MID) == _QA_CLOUD_MID) | (
        (qa & _QA_CLOUD_DILATED) == _QA_CLOUD_DILATED
    )
    if mask_cirrus:
        cloud |= (qa & _QA_CIRRUS) == _QA_CIRRUS
    out["CLOUD_MASK"] = cloud
    combined = cloud.copy()

    if mask_shadows:
        shadow = (qa & _QA_SHADOW) == _QA_SHADOW
        out["SHADOW_MASK"] = shadow
        combined |= shadow

    if mask_saturation and "QA_RADSAT" in bands:
        sat = bands["QA_RADSAT"] != 0
        out["SATURATION_MASK"] = sat
        combined |= sat

    cloudless = ~combined & out["FILL_MASK"]

    if mask_nonphysical:
        sr = [bands[n] for n in refl_names if n.startswith("SR_B")]
        if sr:
            sr = np.stack(sr).astype(np.float64)
            # fill-gated: the reference derives this from the EE-masked SR
            # bands (mask.py:228-244), so mask holes propagate as MASKED,
            # never as nonphysical — in this nodata-encoded world the hole
            # value 0 would otherwise trip the < lims[0] test
            nonphys = (
                (sr.min(axis=0) < SR_NONPHYSICAL_LIMS[0])
                | (sr.max(axis=0) > SR_NONPHYSICAL_LIMS[1])
            ) & out["FILL_MASK"]
            out["NONPHYSICAL_MASK"] = nonphys
            cloudless &= ~nonphys

    if mask_aerosols and "SR_QA_AEROSOL" in bands:
        aero = (bands["SR_QA_AEROSOL"].astype(np.int64) & _S2_AEROSOL_HIGH) == _S2_AEROSOL_HIGH
        out["AEROSOL_MASK"] = aero
        cloudless &= ~aero

    out["CLOUDLESS_MASK"] = cloudless
    return out


def s2_masks(
    bands: dict[str, np.ndarray],
    score: np.ndarray | None = None,
    mask_method: str = "cloud-score",
    score_thresh: float = 0.6,
    prob: np.ndarray | None = None,
    prob_thresh: float = 60.0,
    mask_cirrus: bool = True,
    mask_shadows: bool = True,
    mask_nonphysical: bool = False,
    qa_valid: bool = True,
    solar_azimuth: float = 0.0,
    dark: float = 0.15,
    shadow_dist: float = 1000.0,
    buffer: float = 50.0,
    scale: float = 10.0,
    s2_toa: bool = False,
    nodata=0,
) -> dict[str, np.ndarray]:
    """Sentinel-2 mask bands (mask.py:266-517 semantics).

    ``score``/``prob`` are the broadcast-joined match-image bands; None means
    "no match" -> score-dependent outputs fully masked (mask.py:317-328,
    oracle test_mask.py:659-681) signalled by ``VALID=False``.
    """
    refl_names = [n for n in bands if n.startswith("B")]
    refl = np.stack([bands[n] for n in refl_names])
    fill = fill_mask(refl, nodata)
    out = {"FILL_MASK": fill, "VALID": np.True_}
    shape = fill.shape

    if mask_method == "cloud-score":
        if score is None:
            out["CLOUDLESS_MASK"] = np.zeros(shape, bool)
            out["VALID"] = np.False_
            return out
        combined = score <= score_thresh  # mask.py:412
        out["CLOUD_SCORE"] = score.astype(np.float32)
    else:
        if mask_method == "qa":
            qa = bands["QA60"].astype(np.int64)
            cloud = (qa & _QA60_CLOUD) != 0
            if mask_cirrus:
                cloud |= (qa & _QA60_CIRRUS) != 0
            if not qa_valid:
                # QA60 unpopulated window (mask.py:374-391): the reference
                # MASKS the QA band, which propagates through cloud ->
                # combined -> CLOUDLESS, and regionCoverage unmask()-s to
                # zero — so the image reports CLOUDLESS_PORTION 0 and
                # mask_clouds excludes every pixel.  Treating the window
                # as merely cloud-free (the round-2 reading) inverted
                # that: unverifiable images ranked BEST by portion.
                out["CLOUD_MASK"] = np.zeros(shape, bool)
                out["CLOUDLESS_MASK"] = np.zeros(shape, bool)
                out["VALID"] = np.False_
                return out
        elif mask_method == "cloud-prob":
            if prob is None:
                out["CLOUDLESS_MASK"] = np.zeros(shape, bool)
                out["VALID"] = np.False_
                return out
            cloud = prob >= prob_thresh
            out["CLOUD_PROB"] = prob.astype(np.float32)
        else:
            raise ValueError(f"unknown mask_method {mask_method!r}")
        out["CLOUD_MASK"] = cloud

        # cast shadow (mask.py:331-372)
        dark_mask = bands["B8"] < dark * 1e4 if "B8" in bands else np.zeros(shape, bool)
        if not s2_toa and "SCL" in bands:
            dark_mask &= bands["SCL"] != 6  # exclude water
        azimuth = 90.0 - solar_azimuth
        npix = round(shadow_dist / scale)
        if dark_mask.any() and cloud.any():
            shadow = directional_project(cloud, azimuth, npix) & dark_mask
        else:
            # the projection is O(npix) shifted ORs; skip it when the dark
            # mask (or cloud) is empty — the intersection is empty anyway
            shadow = np.zeros(shape, bool)
        out["SHADOW_MASK"] = shadow

        combined = (cloud | shadow) if mask_shadows else cloud

        # open(20 m) + dilate(buffer m) (mask.py:466-472); morphology of an
        # EMPTY mask is empty — skip the shifted-OR passes on cloud-free
        # images (most of a real archive)
        if combined.any():
            combined = focal_min(combined, round(20.0 / scale))
            combined = focal_max(combined, round(buffer / scale))

    if mask_nonphysical:
        nonphys = refl.max(axis=0) > 10000  # mask.py:477-481
        out["NONPHYSICAL_MASK"] = nonphys
        combined = combined | nonphys

    out["CLOUDLESS_MASK"] = ~combined & fill
    return out


# -- neighbourhood kernels ---------------------------------------------------

def _disk_offsets(radius: int) -> list[tuple[int, int]]:
    if radius <= 0:
        return [(0, 0)]
    r2 = radius * radius
    return [
        (dy, dx)
        for dy in range(-radius, radius + 1)
        for dx in range(-radius, radius + 1)
        if dy * dy + dx * dx <= r2
    ]


def _shift(mask: np.ndarray, dy: int, dx: int, fill: bool) -> np.ndarray:
    out = np.full_like(mask, fill)
    h, w = mask.shape
    if abs(dy) >= h or abs(dx) >= w:
        return out  # shifted fully off the array: all fill
    ys0, ys1 = max(0, dy), min(h, h + dy)
    xs0, xs1 = max(0, dx), min(w, w + dx)
    out[ys0:ys1, xs0:xs1] = mask[ys0 - dy:ys1 - dy, xs0 - dx:xs1 - dx]
    return out


def focal_max(mask: np.ndarray, radius: int) -> np.ndarray:
    """Binary dilation with a disk (EE focal_max analog).

    Decomposed form: the disk is a union of vertical segments — one per
    column offset dx with half-height floor(sqrt(r^2-dx^2)) — so the cost
    is O(r) shifted ORs (2r vertical to build the running segment
    dilations + 2r+1 horizontal placements) instead of the O(r^2) per-
    offset loop; identical output (property-tested vs the naive union)."""
    if radius <= 0:
        return mask
    # group column offsets by required vertical half-height and consume
    # each group while the running segment dilation reaches it — one live
    # vdil array (O(H*W) extra memory), same O(r) shift count
    r2 = radius * radius
    by_h: dict[int, list[int]] = {}
    for dx in range(-radius, radius + 1):
        by_h.setdefault(int(math.isqrt(r2 - dx * dx)), []).append(dx)
    out = np.zeros_like(mask)
    vdil = mask
    for h in range(0, radius + 1):
        if h > 0:
            vdil = vdil | _shift(mask, -h, 0, False) | _shift(mask, h, 0, False)
        for dx in by_h.get(h, ()):
            out |= _shift(vdil, 0, dx, False)
    return out


def focal_min(mask: np.ndarray, radius: int) -> np.ndarray:
    """Binary erosion with a disk (EE focal_min analog).

    Exact dual of :func:`focal_max` under the boundary conventions used
    here (erosion treats beyond-image as set, dilation as clear):
    focal_min(m) == ~focal_max(~m) for every pixel, so the decomposed
    dilation serves both."""
    if radius <= 0:
        return mask
    return ~focal_max(~mask, radius)


def _focal_min_naive(mask: np.ndarray, radius: int) -> np.ndarray:
    """Reference per-offset erosion (kept for the equivalence tests)."""
    if radius <= 0:
        return mask
    out = np.ones_like(mask)
    for dy, dx in _disk_offsets(radius):
        out &= _shift(mask, dy, dx, True)
    return out


def directional_project(mask: np.ndarray, azimuth_deg: float, npix: int) -> np.ndarray:
    """Pixels within ``npix`` steps of a source pixel along ``azimuth``
    (EE directionalDistanceTransform(...).mask() analog, mask.py:355-364).

    Source pixels themselves are INCLUDED (step 0): the reference's
    'distance' band is 0 — unmasked — at sources, so the .mask() is set
    there.  (Shadow = projection & dark then covers dark cloud pixels,
    matching the reference's per-band stats.)

    Azimuth convention: degrees anticlockwise from +x (east), y up (north);
    array rows grow south so dy is negated.
    """
    rad = math.radians(azimuth_deg)
    dx, dy = math.cos(rad), -math.sin(rad)
    out = mask.copy()
    for step in range(1, max(npix, 0) + 1):
        out |= _shift(mask, round(step * dy), round(step * dx), False)
    return out


def edt_squared(sources: np.ndarray, max_r: int | None = None) -> np.ndarray:
    """Exact 2D squared Euclidean distance transform to the nearest True
    pixel — vectorised two-pass form.

    Pass 1 (per column): 1D distance in rows to the nearest source via
    forward/backward running extrema (binary input makes the 1D transform a
    cummax/cummin).  Pass 2 (per row): lower envelope
    ``min_x'(d1(x')^2 + (x - x')^2)`` as a column-offset sweep — each
    offset is one vectorised shifted min, so the cost is O(h*w*R) time and
    O(h*w) memory for R = ``max_r`` (default w-1 = fully exact).

    ``max_r`` bounds the column search radius: any pixel whose true
    distance is <= max_r is still EXACT (its nearest source is within
    max_r columns); pixels farther than max_r only ever report >= the true
    distance — callers that clamp at D pixels pass ``max_r=D`` and lose
    nothing (cloud_dist does).  Pixels with no source anywhere get a large
    sentinel.
    """
    h, w = sources.shape
    INF = float(2 * (h * h + w * w) + 1)
    rows = np.arange(h, dtype=np.int64)[:, None]

    up_idx = np.where(sources, rows, np.int64(-(1 << 40)))
    up = rows - np.maximum.accumulate(up_idx, axis=0)
    down_idx = np.where(sources, rows, np.int64(1 << 40))
    down = np.minimum.accumulate(down_idx[::-1], axis=0)[::-1] - rows
    d1 = np.minimum(up, down)
    d1sq = np.where(d1 > h, INF, d1.astype(np.float64) ** 2)

    R = w - 1 if max_r is None else max(0, min(w - 1, int(max_r)))
    if h * w * w * 8 <= (8 << 20):
        # small rasters (the decimated cloud-distance grids, halo tiles):
        # the offset sweep costs 2R numpy dispatches on arrays of a few
        # hundred elements — pure interpreter overhead.  One (h, w, w)
        # broadcast min evaluates the identical candidates
        # d1sq[y, x'] + (x - x')^2 (same doubles, min is order-free;
        # offsets beyond R masked to +inf exactly like the loop's absent
        # terms) in ~3 vectorised ops.  Gated by the 8 MB temp size; wide
        # rasters keep the O(h*w) memory sweep.
        cols = np.arange(w, dtype=np.int64)
        off = cols[:, None] - cols[None, :]
        sq_off = off.astype(np.float64) ** 2
        sq_off[np.abs(off) > R] = np.inf
        return (d1sq[:, None, :] + sq_off[None, :, :]).min(axis=2)
    out = d1sq.copy()
    for dx in range(1, R + 1):
        sq = float(dx * dx)
        np.minimum(out[:, dx:], d1sq[:, :-dx] + sq, out=out[:, dx:])
        np.minimum(out[:, :-dx], d1sq[:, dx:] + sq, out=out[:, :-dx])
    return out


def cloud_dist(
    cloudless: np.ndarray,
    scale: float,
    max_cloud_dist: float = 5000.0,
    fill: np.ndarray | None = None,
) -> np.ndarray:
    """CLOUD_DIST band: metres to nearest cloud pixel, clamped, uint16
    (mask.py:88-124).  Distance sources are CLOUD pixels among VALID pixels
    only — reference mask.py:102-104: fastDistanceTransform treats masked /
    invalid pixels "as 0 (non cloud)", so with ``fill`` given the sources
    are ``~cloudless & fill``.  The reference additionally masks CLOUD_DIST
    at invalid pixels (updateMask, mask.py:117): values returned here at
    ``~fill`` positions are geometrically defined but must be EXCLUDED by
    callers (stats sum over fill; q-mosaic already drops invalid pixels).
    ``fill=None`` means all pixels are valid."""
    sources = ~cloudless if fill is None else (~cloudless & fill)
    if not sources.any():
        d = np.full(cloudless.shape, max_cloud_dist)
    else:
        max_px = int(math.ceil(max_cloud_dist / scale))
        d = np.sqrt(edt_squared(sources, max_r=max_px)) * scale
    # saturate, don't wrap: toUint16 semantics for max_cloud_dist > 65535
    return np.clip(d, 0, min(max_cloud_dist, 65535)).astype(np.uint16)


def stats_stride(total_px: int, max_pixels: int = MAX_REGION_STAT_PIXELS) -> int:
    """bestEffort grid decimation step (mask.py:78 analog): compute stats on
    every ``step``-th row/col so sampled pixels <= max_pixels."""
    if total_px <= max_pixels:
        return 1
    return int(math.ceil(math.sqrt(total_px / max_pixels)))


# ---------------------------------------------------------------------------
# Spark operators
# ---------------------------------------------------------------------------

_STATS_SCHEMA = (
    "image_id string, total_px long, fill_px long, cloud_px long, "
    "shadow_px long, cloudless_px long"
)

# input columns of the per-image mask kernels (time_start backfilled by
# _with_time_start)
_IMAGE_COLS = ["image_id", "bytes", "collection", "time_start"]


def _with_time_start(images: DataFrame) -> DataFrame:
    """Ensure a time_start column exists (NULL when the caller's table has
    none — masks_for then assumes QA bands are populated)."""
    if "time_start" in images.columns:
        return images
    return images.withColumn("time_start", F.lit(None).cast("timestamp"))


def _sensor_for(collection: str) -> str:
    """Collection id -> mask family.  The declared registry
    (geedim_spark.schema.COLLECTION_SCHEMA, reference schema.py:75-241 /
    mask.py:536-544) decides first; the id-prefix fallback keeps unlisted
    Landsat/S2 variants working; anything else has no cloud support."""
    from geedim_spark import schema as gd_schema

    fam = gd_schema.mask_family(collection)
    if fam is not None:
        return "landsat" if fam.startswith("landsat") else "s2"
    if collection.startswith("LANDSAT/"):
        return "landsat"
    if collection.startswith("COPERNICUS/S2"):
        return "s2"
    return "none"


def band_names_for(collection: str) -> tuple[str, ...]:
    """Synthetic-universe band layout per mask family: band 0 is the
    reflectance band, band 1 the QA band under its family name (QA60 for
    Sentinel-2, QA_PIXEL otherwise)."""
    if _sensor_for(collection) == "s2":
        return ("B1", "QA60")
    return BAND_NAMES


def qa60_valid(time_start) -> bool:
    """QA60 (and other QA*) bands are unpopulated between 2022-02-01 and
    2024-02-01; the qa cloud mask is only valid strictly outside that
    window (mask.py:379-385: difference < 0 days OR difference > 0 days,
    so both endpoints are *invalid*).  None/NaT (no timestamp available,
    e.g. a table without time_start) -> assumed valid — NaT comparisons
    are all-False, which would otherwise silently land every such row
    INSIDE the window and disable its cloud mask."""
    if time_start is None or pd.isna(time_start):
        return True
    ts = pd.Timestamp(time_start)
    return bool(
        ts < pd.Timestamp("2022-02-01") or ts > pd.Timestamp("2024-02-01")
    )


# kwargs accepted by each family kernel (callers may pass a mixed bag when
# one table spans families; masks_for routes only the applicable ones)
_LANDSAT_OPTS = frozenset({
    "mask_shadows", "mask_cirrus", "mask_saturation", "mask_nonphysical",
    "mask_aerosols", "nodata",
})
_S2_OPTS = frozenset({
    "mask_method", "score_thresh", "prob_thresh", "mask_cirrus",
    "mask_shadows", "mask_nonphysical", "solar_azimuth", "dark",
    "shadow_dist", "buffer", "scale", "s2_toa", "nodata",
})


def masks_for(
    collection: str,
    bands: dict[str, np.ndarray],
    time_start=None,
    **mask_opts,
) -> dict[str, np.ndarray]:
    """Per-collection mask dispatch (mask.py:536-544 `_get_class_for_id`):
    Landsat -> :func:`landsat_masks`, Sentinel-2 -> :func:`s2_masks` with
    the self-contained ``qa`` method by default (cloud-score / cloud-prob
    need a match-image join — see :func:`s2_score_mask_stats`) and the
    QA60 validity window computed from ``time_start``, anything else ->
    :func:`default_masks` (no cloud support)."""
    from geedim_spark import schema as gd_schema

    sensor = _sensor_for(collection)
    fam = gd_schema.mask_family(collection)
    if sensor == "landsat":
        opts = {k: v for k, v in mask_opts.items() if k in _LANDSAT_OPTS}
        if fam == "landsat-toa-raw":
            # TOA/raw collections have no SR-only bands: those mask options
            # are SR-specific (mask.py:228-263 subclasses)
            opts.pop("mask_nonphysical", None)
            opts.pop("mask_aerosols", None)
        return landsat_masks(bands, **opts)
    if sensor == "s2":
        opts = {k: v for k, v in mask_opts.items() if k in _S2_OPTS}
        opts.setdefault("mask_method", "qa")
        opts.setdefault("s2_toa", fam == "s2-toa")
        return s2_masks(bands, qa_valid=qa60_valid(time_start), **opts)
    return default_masks(bands)


def default_masks(bands: dict[str, np.ndarray]) -> dict[str, np.ndarray]:
    """Fallback for collections without cloud support: FILL from the
    reflectance bands (B*/SR_B*; QA bands are never validity evidence),
    CLOUDLESS == FILL (portions pin to 100)."""
    refl = [v for k, v in bands.items() if k.startswith(("B", "SR_B"))]
    fill = fill_mask(np.stack(refl if refl else list(bands.values())))
    return {"FILL_MASK": fill, "CLOUDLESS_MASK": fill}


def image_masks(buf, collection: str, time_start=None, **mask_opts):
    """Decode one image row and compute its family's mask planes.

    Returns ``(px, names, m)``: the decoded (bands, h, w) array, the band
    names of its ``px.shape[0]`` bands (:func:`band_names_for`) and the
    :func:`masks_for` planes, which always include FILL_MASK and
    CLOUDLESS_MASK."""
    px = codecs.decode(bytes(buf))
    names = band_names_for(collection)[: px.shape[0]]
    m = masks_for(collection, dict(zip(names, px)), time_start=time_start,
                  **mask_opts)
    return px, names, m


def mask_stats_row(image_id, buf, coll, ts, **mask_opts) -> tuple:
    """One :func:`mask_stats` output row (``_STATS_SCHEMA`` order): counts
    over the bestEffort :func:`stats_stride` grid of the image."""
    _, _, m = image_masks(buf, coll, ts, **mask_opts)
    step = stats_stride(m["FILL_MASK"].size)
    sub = (slice(None, None, step), slice(None, None, step))

    def count(plane):
        return int(m[plane][sub].sum()) if plane in m else 0

    return (
        image_id, int(m["FILL_MASK"][sub].size), count("FILL_MASK"),
        count("CLOUD_MASK"), count("SHADOW_MASK"), count("CLOUDLESS_MASK"),
    )


def mask_stats(images: DataFrame, **mask_opts) -> DataFrame:
    """Per-image mask pixel counts — one Arrow pass, zero shuffle.

    Input needs: image_id, bytes, collection.  Output: exact counts of
    total/fill/cloud/shadow/cloudless pixels (ints — order-insensitive and
    float-free for oracle hashing).
    """
    def _row(image_id, buf, coll, ts):
        yield mask_stats_row(image_id, buf, coll, ts, **mask_opts)

    return map_rows(_with_time_start(images), _IMAGE_COLS, _STATS_SCHEMA, _row)


def with_portions(stats: DataFrame) -> DataFrame:
    """FILL_PORTION / CLOUDLESS_PORTION from counts (mask.py:135-151)."""
    return stats.withColumn(
        "fill_portion", F.lit(100.0) * F.col("fill_px") / F.col("total_px")
    ).withColumn(
        "cloudless_portion",
        F.when(F.col("fill_px") > 0,
               F.lit(100.0) * F.col("cloudless_px") / F.col("fill_px")),
    )


def _matched_row(image_id, m) -> tuple:
    """(image_id, total, fill, cloudless, matched) of an s2_masks result."""
    return (
        image_id, int(m["FILL_MASK"].size), int(m["FILL_MASK"].sum()),
        int(m["CLOUDLESS_MASK"].sum()), bool(m["VALID"]),
    )


def s2_score_mask_stats(
    images: DataFrame,
    scores: DataFrame,
    score_thresh: float = 0.6,
    cs_band: str = "cs",
) -> DataFrame:
    """Sentinel-2 cloud-score masking with the match-image join realised as
    a **broadcast left-outer equi-join** (J2): the reference's per-image
    ``match_image`` filter + firstNonNull default (mask.py:304-329) becomes

        images LEFT OUTER JOIN broadcast(scores) ON image_id

    with a NULL score payload producing the fully-masked default
    (score-dependent bands masked, FILL unaffected — oracle
    test_mask.py:659-681).  ``scores`` needs (image_id, score_bytes) where
    score_bytes decodes to a float raster on the image grid whose band 0
    is 'cs' and band 1 (when present) 'cs_cdf'; ``cs_band`` picks which
    one thresholds the mask (mask.py:287, CloudScoreBand enum).

    Output: exact counts (total/fill/cloudless px) + score_matched flag.
    """
    joined = images.select("image_id", "bytes").join(
        F.broadcast(scores.select("image_id", "score_bytes")),
        "image_id", "left_outer",
    )

    band_idx = {"cs": 0, "cs_cdf": 1}
    if cs_band not in band_idx:
        raise ValueError(f"cs_band must be cs|cs_cdf (got {cs_band!r})")

    def _row(image_id, buf, sbuf):
        px = codecs.decode(bytes(buf))
        score = None
        if sbuf is not None:
            sc = codecs.decode(bytes(sbuf))
            bi = band_idx[cs_band]
            if bi >= sc.shape[0]:
                raise ValueError(
                    f"score raster has {sc.shape[0]} band(s); "
                    f"{cs_band!r} needs band {bi}"
                )
            score = sc[bi]
        m = s2_masks(dict(zip(BAND_NAMES, px)), score=score,
                     score_thresh=score_thresh)
        yield _matched_row(image_id, m)

    return map_rows(
        joined, ["image_id", "bytes", "score_bytes"],
        "image_id string, total_px long, fill_px long, "
        "cloudless_px long, score_matched boolean",
        _row,
    )


def s2_prob_mask_stats(
    images: DataFrame,
    probs: DataFrame,
    prob_thresh: float = 60.0,
) -> DataFrame:
    """Sentinel-2 cloud-probability masking (mask.py:393-399) via the same
    broadcast left-outer match-image join as the score method, but through
    the full qa/prob pipeline: threshold -> shadow projection -> open(20 m)
    + dilate(buffer) morphology (mask.py:466-472).  NULL prob payload ->
    fully-masked default.  ``probs`` needs (image_id, prob_bytes) decoding
    to a 1-band float raster in [0, 100] on the image grid.
    """
    joined = images.select("image_id", "bytes").join(
        F.broadcast(probs.select("image_id", "prob_bytes")),
        "image_id", "left_outer",
    )

    def _row(image_id, buf, pbuf):
        px = codecs.decode(bytes(buf))
        prob = codecs.decode(bytes(pbuf))[0] if pbuf is not None else None
        m = s2_masks(
            dict(zip(BAND_NAMES, px)), prob=prob, mask_method="cloud-prob",
            prob_thresh=prob_thresh,
        )
        yield _matched_row(image_id, m)

    return map_rows(
        joined, ["image_id", "bytes", "prob_bytes"],
        "image_id string, total_px long, fill_px long, "
        "cloudless_px long, prob_matched boolean",
        _row,
    )


def cdi_mask_stats(
    images: DataFrame,
    cdi: DataFrame,
    cdi_thresh: float = -0.5,
) -> DataFrame:
    """CDI-refined cloud mask via the TOA-twin join (J3, mask.py:418-434):
    the Cloud Displacement Index raster comes from a *second* image table
    matched on id — same broadcast left-outer shape as the score join —
    and the cloud mask keeps only pixels where ``CDI < cdi_thresh``
    (mask.py:434: ``cdi_image.lt(cdi_thresh)``).

    Unmatched rows keep the unrefined cloud mask (conservative: no CDI
    evidence to remove cloud pixels).  ``cdi`` needs (image_id, cdi_bytes)
    decoding to a 1-band float raster.  Output: exact pixel counts.
    """
    joined = _with_time_start(images).select(*_IMAGE_COLS).join(
        F.broadcast(cdi.select("image_id", "cdi_bytes")), "image_id", "left_outer"
    )

    def _row(image_id, buf, coll, ts, cbuf):
        px = codecs.decode(bytes(buf))
        bands = dict(zip(band_names_for(coll), px))
        fill = fill_mask(px[:1])
        # base cloud mask per family; CDI refines qa/prob clouds
        # (mask.py:451-454: aux['cloud'].And(cdi_cloud_mask))
        qa_invalid = False
        if _sensor_for(coll) == "s2":
            qa = bands["QA60"].astype(np.int64)
            cloud = ((qa & _QA60_CLOUD) != 0) | ((qa & _QA60_CIRRUS) != 0)
            if not qa60_valid(ts):
                # QA60 unpopulated window: the reference's masked QA
                # band stays masked through the CDI And-refinement and
                # into CLOUDLESS (see s2_masks) — zero cloud AND zero
                # cloudless, not "all clear"
                cloud = np.zeros_like(cloud)
                qa_invalid = True
        else:
            # full Landsat cloud bits, identical to landsat_masks'
            # default (mid-confidence | dilated | cirrus) — a lone
            # bit-9 test silently under-counted vs mask_stats
            qa = bands["QA_PIXEL"].astype(np.int64)
            cloud = (
                ((qa & _QA_CLOUD_MID) == _QA_CLOUD_MID)
                | ((qa & _QA_CLOUD_DILATED) == _QA_CLOUD_DILATED)
                | ((qa & _QA_CIRRUS) == _QA_CIRRUS)
            )
        matched = cbuf is not None
        if matched:
            cdi_arr = codecs.decode(bytes(cbuf))[0]
            cloud = cloud & (cdi_arr < cdi_thresh)
        cloudless = np.zeros_like(fill) if qa_invalid else ~cloud & fill
        yield image_id, int(cloud.sum()), int(cloudless.sum()), matched

    return map_rows(
        joined, [*_IMAGE_COLS, "cdi_bytes"],
        "image_id string, cloud_px long, cloudless_px long, "
        "cdi_matched boolean",
        _row,
    )


def cloud_dist_stats(
    images: DataFrame,
    scale: float = 10.0,
    max_cloud_dist: float = 5000.0,
    decimate: int = 1,
    **mask_opts,
) -> DataFrame:
    """Per-image sum of clamped CLOUD_DIST values (exact EDT, mask.py:88-124
    semantics).  Integer output -> oracle-hashable; the strip geometry of the
    synthetic table makes the expected sum closed-form in SQL.

    ``decimate`` computes the transform on every d-th pixel at scale*d — the
    reference's compute-at-coarse-projection trick (cloud dist at the 60 m
    B1 projection, mask.py:510-516) that bounds EDT cost on large tiles.
    """
    def _row(image_id, buf, coll, ts):
        _, _, m = image_masks(buf, coll, ts, **mask_opts)
        mk = m["CLOUDLESS_MASK"][::decimate, ::decimate]
        fk = m["FILL_MASK"][::decimate, ::decimate]
        d = cloud_dist(mk, scale * decimate, max_cloud_dist, fill=fk)
        # CLOUD_DIST is masked at invalid pixels (mask.py:117): the sum
        # covers fill pixels only
        yield image_id, int(d[fk].sum(dtype=np.int64))

    return map_rows(
        _with_time_start(images), _IMAGE_COLS,
        "image_id string, dist_sum long", _row,
    )


_MASKED_SCHEMA = "image_id string, bytes binary, fmt string"


def mask_clouds(images: DataFrame, **mask_opts) -> DataFrame:
    """Apply the cloudless mask to the data bands: non-cloudless pixels set
    to nodata (updateMask(CLOUDLESS_MASK) analog, mask.py:131-133).  Returns
    (image_id, bytes, fmt) — pixels are re-encoded RAW (masking a lossy
    stream exactly requires decoding it), so the row's ``fmt`` is rewritten
    to 'raw'; callers joining back must take THIS fmt, not the source's."""
    def _row(image_id, buf, coll, ts):
        if _sensor_for(coll) == "none":
            px = codecs.decode(bytes(buf))
        else:
            px, _, m = image_masks(buf, coll, ts, **mask_opts)
            px[0][~m["CLOUDLESS_MASK"]] = codecs.NODATA_VALS[px.dtype.name]
        yield image_id, codecs.encode(px, "raw"), "raw"

    return map_rows(_with_time_start(images), _IMAGE_COLS, _MASKED_SCHEMA, _row)


# ---------------------------------------------------------------------------
# parameterised Landsat strip-mock stats (reference test_mask.py:60-155 mock
# and :482-564 per-flag assertions)
# ---------------------------------------------------------------------------

def landsat_strip_widths(image_id: int) -> dict[str, int]:
    """Per-image strip widths (px, columns sum to 40) of the Landsat
    strip-mock world.  image 0 reproduces the reference fixture's exact
    fractions (test_mask.py:60-117): FILL 0.9, CLOUD 0.3, SHADOW 0.2,
    CLOUDLESS 0.4, saturation/nonphysical/aerosol 0.1 each; higher ids vary
    strip widths by (a, b, c) = (id%2, id//2%2, id//4%2) so the oracle is a
    closed form over image_id, not a single constant row."""
    a, b, c = image_id % 2, (image_id // 2) % 2, (image_id // 4) % 2
    return {
        "fill_b1": 2, "fill_b3": 2, "sat": 4 + c, "np_lo": 2, "np_hi": 2,
        "aero": 4 + b, "clear": 4 - a - 2 * b - c, "mid": 2, "high": 2 + a,
        "dilated": 4, "shadow": 8 + b, "cirrus": 4,
    }


def landsat_strip_bands(image_id: int, h: int = 20) -> dict[str, np.ndarray]:
    """Build the strip-mock band set (test_mask.py:60-155): vertical strips
    carrying EE-mask holes, QA_PIXEL cloud/shadow/cirrus bits, QA_RADSAT
    saturation, SR nonphysical values and SR_QA_AEROSOL high-aerosol bits.
    Bit constants match the kernel's (mask.py:181-207, 228-262)."""
    wd = landsat_strip_widths(image_id)
    order = ["fill_b1", "fill_b3", "sat", "np_lo", "np_hi", "aero", "clear",
             "mid", "high", "dilated", "shadow", "cirrus"]
    w = sum(wd.values())
    b1 = np.full((h, w), 10000, np.uint16)
    b2 = np.full((h, w), 20000, np.uint16)
    b3 = np.full((h, w), 30000, np.uint16)
    qa_pixel = np.zeros((h, w), np.uint16)
    qa_radsat = np.zeros((h, w), np.uint16)
    qa_aerosol = np.zeros((h, w), np.uint16)
    x = 0
    for name in order:
        s = slice(x, x + wd[name])
        x += wd[name]
        if name == "fill_b1":
            b1[:, s] = 0                       # EE-mask hole in SR_B1
        elif name == "fill_b3":
            b3[:, s] = 0                       # EE-mask hole in SR_B3
        elif name == "sat":
            qa_radsat[:, s] = 1
        elif name == "np_lo":
            b1[:, s] = 1000                    # reflectance < 0
        elif name == "np_hi":
            b3[:, s] = 50000                   # reflectance > 1
        elif name == "aero":
            qa_aerosol[:, s] = (3 << 6) | (1 << 1)
        elif name == "mid":
            qa_pixel[:, s] = (1 << 9) | (1 << 3)
        elif name == "high":
            qa_pixel[:, s] = (3 << 8) | (1 << 3)
        elif name == "dilated":
            qa_pixel[:, s] = 1 << 1
        elif name == "shadow":
            qa_pixel[:, s] = (3 << 10) | (1 << 4)
        elif name == "cirrus":
            qa_pixel[:, s] = (3 << 14) | (1 << 2)
    return {
        "SR_B1": b1, "SR_B2": b2, "SR_B3": b3, "QA_PIXEL": qa_pixel,
        "QA_RADSAT": qa_radsat, "SR_QA_AEROSOL": qa_aerosol,
    }


_PARAM_STATS_SCHEMA = (
    "image_id long, fill_px long, cloud_px long, shadow_px long, "
    "cloudless_px long, cloudless_nsh_px long, cloud_ncir_px long, "
    "sat_px long, cloudless_sat_px long, nonphys_px long, "
    "cloudless_np_px long, aerosol_px long, cloudless_aero_px long"
)


def landsat_param_stats(
    ids: DataFrame, collection: str = "LANDSAT/LC08/C02/T1_L2"
) -> DataFrame:
    """Per-flag Landsat mask portions over the strip-mock world — the six
    parameter configurations the reference asserts (test_mask.py:482-564:
    ref / mask_shadows=False / mask_cirrus=False / +saturation /
    +nonphysical / +aerosols), one Arrow pass, counts as exact ints.

    Every config routes through :func:`masks_for` so the per-collection
    dispatch (landsat-sr-aerosol family) is exercised end to end, not just
    the raw kernel."""
    def _row(image_id):
        bands = landsat_strip_bands(int(image_id))
        ref = masks_for(collection, bands)
        nsh = masks_for(collection, bands, mask_shadows=False)
        ncir = masks_for(collection, bands, mask_cirrus=False)
        sat = masks_for(collection, bands, mask_saturation=True)
        np_ = masks_for(collection, bands, mask_saturation=True,
                        mask_nonphysical=True)
        aero = masks_for(collection, bands, mask_saturation=True,
                         mask_nonphysical=True, mask_aerosols=True)
        yield (int(image_id), *(int(m[plane].sum()) for m, plane in (
            (ref, "FILL_MASK"), (ref, "CLOUD_MASK"), (ref, "SHADOW_MASK"),
            (ref, "CLOUDLESS_MASK"), (nsh, "CLOUDLESS_MASK"),
            (ncir, "CLOUD_MASK"), (sat, "SATURATION_MASK"),
            (sat, "CLOUDLESS_MASK"), (np_, "NONPHYSICAL_MASK"),
            (np_, "CLOUDLESS_MASK"), (aero, "AEROSOL_MASK"),
            (aero, "CLOUDLESS_MASK"),
        )))

    return map_rows(ids, ["image_id"], _PARAM_STATS_SCHEMA, _row)


def s2_shadow_strip_bands(image_id: int, h: int = 20) -> dict[str, np.ndarray]:
    """S2 shadow-parameter strip mock (test_mask.py strip construction,
    applied to the cast-shadow path mask.py:331-372): vertical strips
    isolating the dark-pixel threshold (``dark``: B8 < dark*1e4), the SR
    water exclusion (SCL == 6 is never dark) and the projection reach
    (``shadow_dist``).  Layout (left to right, widths parameterised by
    ``image_id`` for image-varying closed forms):

    clear(a) | cloud(c, QA60 bit 10) | dark land(d, B8=1200, SCL=5) |
    dark water(e, B8=1200, SCL=6) | bright(12)

    B1/B8 are nonzero everywhere -> FILL is the whole image; the cloud
    strip stays bright so shadow never overlaps its own source."""
    i = int(image_id)
    a = 6 + (i % 3) * 2
    c = 4 + (i % 4) * 2
    d = 4 + (i % 5) * 2
    e = 4 + (i % 2) * 2
    w = a + c + d + e + 12
    b1 = np.full((h, w), 5000, np.uint16)
    b8 = np.full((h, w), 5000, np.uint16)
    scl = np.full((h, w), 5, np.uint16)
    qa60 = np.zeros((h, w), np.uint16)
    qa60[:, a:a + c] = 1 << 10                      # opaque cloud
    b8[:, a + c:a + c + d + e] = 1200               # dark candidates
    scl[:, a + c + d:a + c + d + e] = 6             # water (SR-excluded)
    return {"B1": b1, "B8": b8, "SCL": scl, "QA60": qa60}


_SHADOW_STATS_SCHEMA = (
    "image_id long, fill_px long, cloud_px long, shadow_px long, "
    "cloudless_px long, cloudless_dark10_px long, shadow_sd30_px long, "
    "cloudless_sd30_px long, shadow_toa_px long, cloudless_nsh_px long"
)


def s2_shadow_param_stats(
    ids: DataFrame, collection: str = "COPERNICUS/S2_SR_HARMONIZED"
) -> DataFrame:
    """Per-parameter S2 cast-shadow portions over the shadow strip mock —
    five configurations through :func:`masks_for` (qa method, sun due
    east so the projection runs +x across the strips):

    - ref: dark=0.15 default -> B8=1200 is dark; shadow_dist=1000
      (100 px) covers every strip -> SHADOW == the dark LAND strip
      (water excluded for SR, mask.py:331-372)
    - dark=0.10: threshold 1000 < B8 -> nothing is dark, shadow empty
    - shadow_dist=30: the projection reaches 3 px past the cloud ->
      shadow = first 3 dark columns
    - s2_toa=True: no SCL band semantics -> water strip also shadow
    - mask_shadows=False: CLOUDLESS excludes only the (morphed) cloud

    Counts are exact ints; the qa pipeline's open(20 m)+dilate(50 m)
    morphology (mask.py:466-472) applies to every CLOUDLESS figure."""
    common = dict(time_start=None, solar_azimuth=90.0)

    def _row(image_id):
        bands = s2_shadow_strip_bands(int(image_id))
        ref = masks_for(collection, bands, **common)
        d10 = masks_for(collection, bands, dark=0.10, **common)
        sd30 = masks_for(collection, bands, shadow_dist=30.0, **common)
        toa = masks_for(collection, bands, s2_toa=True, **common)
        nsh = masks_for(collection, bands, mask_shadows=False, **common)
        yield (int(image_id), *(int(m[plane].sum()) for m, plane in (
            (ref, "FILL_MASK"), (ref, "CLOUD_MASK"), (ref, "SHADOW_MASK"),
            (ref, "CLOUDLESS_MASK"), (d10, "CLOUDLESS_MASK"),
            (sd30, "SHADOW_MASK"), (sd30, "CLOUDLESS_MASK"),
            (toa, "SHADOW_MASK"), (nsh, "CLOUDLESS_MASK"),
        )))

    return map_rows(ids, ["image_id"], _SHADOW_STATS_SCHEMA, _row)
