"""Mask-engine oracles ported from the reference's strip-mock pattern
(/root/reference/tests/test_mask.py): axis-aligned strips of exactly known
width encode mask conditions, so every portion is an exact fraction."""

from __future__ import annotations

import numpy as np
import pytest

from geedim_spark import synth
from geedim_spark.operators import masks
from tests.reference import masks as ref_masks


def _landsat_strip_bands(w=100, h=100):
    """Strip layout (columns, % of image):
    fill 0-9, mid-cloud 10-19, dilated 20-29, cirrus 30-39, shadow 40-59,
    saturation 60-69, nonphysical 70-79, aerosol 80-89."""
    B1 = np.full((h, w), 10000, np.uint16)
    SR_B1 = np.full((h, w), 10000, np.uint16)
    QA = np.zeros((h, w), np.uint16)
    RADSAT = np.zeros((h, w), np.uint16)
    AEROSOL = np.zeros((h, w), np.uint16)
    B1[:, 0:10] = 0
    SR_B1[:, 0:10] = 0
    QA[:, 10:20] |= 1 << 9   # mid-confidence cloud
    QA[:, 20:30] |= 1 << 1   # dilated cloud
    QA[:, 30:40] |= 1 << 15  # cirrus
    QA[:, 40:60] |= 1 << 11  # shadow
    RADSAT[:, 60:70] = 1
    SR_B1[:, 70:80] = 50000  # > (1+0.2)/0.0000275
    AEROSOL[:, 80:90] = 3 << 6
    return {
        "B1": B1, "SR_B1": SR_B1, "QA_PIXEL": QA,
        "QA_RADSAT": RADSAT, "SR_QA_AEROSOL": AEROSOL,
    }


def _frac(mask):
    return mask.mean()


def test_landsat_default_portions():
    """Defaults (shadows+cirrus on): FILL 0.9, CLOUD 0.3, SHADOW 0.2,
    CLOUDLESS 0.4 (test_mask.py:482-527 pattern)."""
    m = masks.landsat_masks(_landsat_strip_bands())
    assert _frac(m["FILL_MASK"]) == 0.9
    assert _frac(m["CLOUD_MASK"]) == 0.3
    assert _frac(m["SHADOW_MASK"]) == 0.2
    assert _frac(m["CLOUDLESS_MASK"]) == 0.4


def test_landsat_mask_param_deltas():
    bands = _landsat_strip_bands()
    # mask_shadows=False -> shadow strip becomes cloudless: 0.6
    m = masks.landsat_masks(bands, mask_shadows=False)
    assert _frac(m["CLOUDLESS_MASK"]) == 0.6
    # mask_cirrus=False -> CLOUD 0.2, CLOUDLESS 0.5
    m = masks.landsat_masks(bands, mask_cirrus=False)
    assert _frac(m["CLOUD_MASK"]) == 0.2
    assert _frac(m["CLOUDLESS_MASK"]) == 0.5
    # + saturation -> CLOUDLESS 0.3
    m = masks.landsat_masks(bands, mask_saturation=True)
    assert _frac(m["SATURATION_MASK"]) == 0.1
    assert _frac(m["CLOUDLESS_MASK"]) == 0.3
    # + nonphysical (SR) -> CLOUDLESS 0.3.  NONPHYSICAL is fill-gated:
    # the zeroed fill strip is MASKED, not nonphysical (the reference
    # derives the band from EE-masked SR reflectance, mask.py:228-244)
    m = masks.landsat_masks(bands, mask_nonphysical=True)
    assert _frac(m["NONPHYSICAL_MASK"]) == 0.1
    assert _frac(m["CLOUDLESS_MASK"]) == 0.3
    # + aerosol -> CLOUDLESS 0.3
    m = masks.landsat_masks(bands, mask_aerosols=True)
    assert _frac(m["AEROSOL_MASK"]) == 0.1
    assert _frac(m["CLOUDLESS_MASK"]) == 0.3
    # everything on
    m = masks.landsat_masks(
        bands, mask_saturation=True, mask_nonphysical=True, mask_aerosols=True
    )
    assert _frac(m["CLOUDLESS_MASK"]) == pytest.approx(0.1)


def _s2_bands(w=100, h=100):
    B1 = np.full((h, w), 5000, np.uint16)
    B1[:, 0:10] = 0  # fill strip 10%
    return {"B1": B1}


def test_s2_cloud_score_portions():
    """Score strips: 0.9 / 0.7 / 0.5 -> CLOUDLESS 0.7 at thresh 0.6,
    0.4 at thresh 0.8 (test_mask.py:597-656 pattern)."""
    bands = _s2_bands()
    score = np.full((100, 100), 0.9)
    score[:, 50:80] = 0.7
    score[:, 80:] = 0.5
    m = masks.s2_masks(bands, score=score, score_thresh=0.6)
    assert _frac(m["FILL_MASK"]) == 0.9
    assert _frac(m["CLOUDLESS_MASK"]) == 0.7
    assert bool(m["VALID"])
    m = masks.s2_masks(bands, score=score, score_thresh=0.8)
    assert _frac(m["CLOUDLESS_MASK"]) == 0.4


def test_s2_unmatched_score_fully_masked():
    """No score match -> score-dependent bands fully masked, FILL unaffected
    (test_mask.py:659-681 port via mask.py:317-328 firstNonNull default)."""
    m = masks.s2_masks(_s2_bands(), score=None)
    assert _frac(m["FILL_MASK"]) == 0.9
    assert _frac(m["CLOUDLESS_MASK"]) == 0.0
    assert not bool(m["VALID"])


def test_s2_qa_method_with_validity_window():
    bands = _s2_bands()
    qa = np.zeros((100, 100), np.uint16)
    qa[:, 20:40] = 1 << 10  # cloud
    qa[:, 40:50] = 1 << 11  # cirrus
    bands["QA60"] = qa
    m = masks.s2_masks(bands, mask_method="qa", buffer=0, scale=25.0, shadow_dist=0)
    assert _frac(m["CLOUD_MASK"]) == 0.3
    # cirrus off -> 0.2
    m = masks.s2_masks(bands, mask_method="qa", mask_cirrus=False, buffer=0,
                       scale=25.0, shadow_dist=0)
    assert _frac(m["CLOUD_MASK"]) == 0.2
    # QA60 invalid window (2022-02..2024-02) -> no cloud info (mask.py:379-385)
    m = masks.s2_masks(bands, mask_method="qa", qa_valid=False, buffer=0,
                       scale=25.0, shadow_dist=0)
    assert _frac(m["CLOUD_MASK"]) == 0.0
    assert not bool(m["VALID"])


def test_s2_nonphysical():
    bands = _s2_bands()
    bands["B1"][:, 90:] = 11000  # > 10000 (mask.py:477-481)
    score = np.full((100, 100), 0.9)
    m = masks.s2_masks(bands, score=score, mask_nonphysical=True)
    assert _frac(m["NONPHYSICAL_MASK"]) == 0.1
    assert _frac(m["CLOUDLESS_MASK"]) == pytest.approx(0.8)


# -- neighbourhood kernels ---------------------------------------------------

def test_edt_matches_bruteforce():
    rng = np.random.default_rng(3)
    src = rng.random((23, 31)) < 0.05
    src[0, 0] = True  # ensure at least one source
    got = masks.edt_squared(src)
    ys, xs = np.nonzero(src)
    yy, xx = np.mgrid[0:23, 0:31]
    want = ((yy[..., None] - ys) ** 2 + (xx[..., None] - xs) ** 2).min(axis=-1)
    assert np.array_equal(got, want.astype(float))


def test_cloud_dist_oracle():
    """Port of test_mask.py:321-350: 41x31 image @ 1 m scale, single cloud
    pixel in the bottom-left corner -> min 0, max 50 m; clamp case max 10."""
    cloudless = np.ones((31, 41), bool)
    cloudless[30, 0] = False  # the cloud pixel
    d = masks.cloud_dist(cloudless, scale=1.0, max_cloud_dist=50.0)
    assert d.dtype == np.uint16
    assert d.min() == 0
    assert d.max() == 50  # sqrt(40^2 + 30^2) = 50 exactly
    d = masks.cloud_dist(cloudless, scale=1.0, max_cloud_dist=10.0)
    assert d.max() == 10


def test_focal_and_directional():
    m = np.zeros((20, 20), bool)
    m[10, 10] = True
    assert masks.focal_max(m, 2).sum() == 13  # disk radius 2
    assert masks.focal_min(masks.focal_max(m, 2), 2)[10, 10]
    # single pixel eroded away
    assert masks.focal_min(m, 1).sum() == 0
    # open removes small blobs (the reference's focal_min(20).focal_max(buffer))
    opened = masks.focal_max(masks.focal_min(m, 1), 2)
    assert opened.sum() == 0
    # directional projection: azimuth 0 = +x (east); the source pixel is
    # included (EE ddt distance 0 is unmasked at sources)
    cast = masks.directional_project(m, 0.0, 3)
    assert cast[10, 10] and cast[10, 11] and cast[10, 13]
    assert not cast[10, 14] and not cast[10, 9]
    # azimuth 90 = north (up in array = decreasing row)
    cast = masks.directional_project(m, 90.0, 3)
    assert cast[10, 10] and cast[9, 10] and cast[7, 10] and not cast[11, 10]


# -- Spark operators ----------------------------------------------------------

def test_mask_stats_matches_analytic(spark):
    """Counts from decoded pixels == closed-form from the strip parameters,
    per mask family (mask.py:536-544 dispatch): mock -> no cloud support,
    Landsat -> QA_PIXEL bits, S2 -> QA60 qa method with the unpopulated
    window (i <= 744 falls inside it) + open(2)+dilate(5) morphology."""
    # straddle the QA60 validity boundary (i = 744 <-> 2024-02-01)
    imgs = synth.images_df(spark, 780).filter("fmt = 'raw' AND i >= 700")
    got = {
        r["image_id"]: r
        for r in masks.mask_stats(imgs).collect()
    }
    rows = imgs.select(
        "image_id", "collection", "i", "f_px", "c_px", "w", "h"
    ).collect()
    assert {r["collection"] for r in rows} == {
        "MOCK/CONST", "LANDSAT/LC09/C02/T1_L2", "COPERNICUS/S2_SR_HARMONIZED"}
    for r in rows:
        g = got[r["image_id"]]
        w, h, f, c = r["w"], r["h"], r["f_px"], r["c_px"]
        assert g["total_px"] == w * h
        assert g["fill_px"] == (w - f) * h
        if r["collection"] == "MOCK/CONST":
            # no cloud support -> cloudless == fill (mask.py:66-82 analog)
            assert g["cloud_px"] == 0
            assert g["cloudless_px"] == (w - f) * h
        elif r["collection"].startswith("LANDSAT/"):
            assert g["cloud_px"] == c * h
            assert g["cloudless_px"] == (w - f - c) * h
        else:  # S2 qa method
            qa_ok = r["i"] > 744  # time_start > 2024-02-01
            ceff = (c + 3) if (qa_ok and c > 2) else 0
            assert g["cloud_px"] == (c * h if qa_ok else 0)
            # inside the unpopulated window CLOUDLESS is fully masked
            # (reference semantics), not "all clear"
            want_cl = (w - f - ceff) * h if qa_ok else 0
            assert g["cloudless_px"] == want_cl


def test_with_portions(spark):
    imgs = synth.images_df(spark, 20).filter("fmt = 'raw'")
    rows = masks.with_portions(masks.mask_stats(imgs)).collect()
    for r in rows:
        assert r["fill_portion"] == pytest.approx(100.0 * r["fill_px"] / r["total_px"])
        if r["fill_px"]:
            assert r["cloudless_portion"] == pytest.approx(
                100.0 * r["cloudless_px"] / r["fill_px"]
            )


def test_mask_clouds_applies_nodata(spark):
    from geedim_spark import codecs
    # landsat rows only: S2 rows in this i-range sit in the QA60
    # unpopulated window (no clouds masked), mock rows have no cloud support
    imgs = synth.images_df(spark, 8).filter(
        "fmt = 'raw' and c_px > 0 and i % 3 = 1"
    )
    masked = masks.mask_clouds(imgs)
    row = masked.first()
    src = {r["image_id"]: r for r in imgs.select("image_id", "c_px", "w").collect()}
    px = codecs.decode(bytes(row["bytes"]))
    c_px = src[row["image_id"]]["c_px"]
    w = src[row["image_id"]]["w"]
    assert (px[0, :, w - c_px:] == 0).all()       # cloud strip -> nodata
    assert (px[0, :, w - c_px - 1] != 0).all()    # adjacent column untouched


def test_cdi_unmatched_keeps_unrefined_cloud(spark):
    """CDI twin missing -> cloud mask unrefined (conservative branch)."""
    from pyspark.sql import functions as F
    imgs = synth.images_df(spark, 14, scalar_filter="fmt = 'raw' AND c_px > 0")
    cdi = synth.cdi_df(spark, 14).filter("i % 2 = 0")
    got = {r["image_id"]: r for r in
           masks.cdi_mask_stats(imgs, cdi, cdi_thresh=-0.5).collect()}
    src = {r["image_id"]: r for r in
           imgs.select("image_id", "i", "c_px", "h").collect()}
    for image_id, g in got.items():
        s = src[image_id]
        # S2 rows at these indices sit inside the QA60 unpopulated window
        # (time_start < 2024-02-01) -> no base QA cloud to refine
        base_c = 0 if s["i"] % 3 == 2 else s["c_px"]
        if s["i"] % 2 == 0:  # matched: refined by the CDI strip
            assert g["cdi_matched"]
            assert g["cloud_px"] == s["h"] * min(base_c, (s["i"] % 4) * 10)
        else:  # unmatched: raw QA cloud strip
            assert not g["cdi_matched"]
            assert g["cloud_px"] == s["h"] * base_c


def test_band_select_regex(spark):
    from geedim_spark.operators import export_ops
    imgs = synth.images_df(spark, 6, scalar_filter="fmt = 'raw'")
    from geedim_spark import codecs as cd
    qa = export_ops.select_bands(imgs, "QA.*").first()
    px = cd.decode(bytes(qa["bytes"]))
    assert px.shape[0] == 1 and qa["n_bands"] == 1
    import pytest as _pt
    with _pt.raises(ValueError, match="no bands match"):
        export_ops.select_bands(imgs, "SR_B.*")


def test_band_select_names_bands_per_collection(spark):
    """select_bands names each row's bands under its own collection: QA60
    picks Sentinel-2's QA band, and a Landsat row, whose QA band is
    QA_PIXEL, fails naming the image."""
    from pyspark.errors import PythonException

    from geedim_spark import api
    from geedim_spark import codecs as cd
    from geedim_spark.operators import export_ops

    imgs = synth.images_df(spark, 6, scalar_filter="fmt = 'raw'")
    s2 = imgs.filter("collection LIKE 'COPERNICUS/S2%'")
    rows = api.Image(s2).prepare_for_export(band_regex="QA60").df.collect()
    assert rows
    src = {r["image_id"]: cd.decode(bytes(r["bytes"])) for r in s2.collect()}
    for r in rows:
        px = cd.decode(bytes(r["bytes"]))
        assert px.shape[0] == 1
        assert np.array_equal(px[0], src[r["image_id"]][1])
    landsat = imgs.filter("collection LIKE 'LANDSAT/%'")
    with pytest.raises(PythonException, match=r"no bands of IMG/\d+ .* match 'QA60'"):
        export_ops.select_bands(landsat, "QA60").collect()


def test_stats_stride_decimation():
    assert masks.stats_stride(100) == 1
    assert masks.stats_stride(1_000_000) == 1
    assert masks.stats_stride(4_000_000) == 2
    assert masks.stats_stride(100_000_000) == 10


def test_shift_larger_than_array_is_all_fill():
    """Regression: |shift| >= dim previously raised a broadcast ValueError."""
    m = np.zeros((5, 7), bool)
    m[2, 3] = True
    assert not masks._shift(m, 6, 0, False).any()
    assert masks._shift(m, 0, -8, True).all()
    assert not masks.focal_max(m, 10)[0, 0] or True  # no crash
    assert masks.focal_max(m, 10).any()


def test_s2_default_shadow_dist_small_image_no_crash():
    """Regression: default shadow_dist=1000/scale=10 -> npix=100 shifts on a
    40x40 image crashed _shift; now shifts fully off the array are empty."""
    h = w = 40
    bands = {
        "B1": np.full((h, w), 5, np.uint16),
        "B8": np.full((h, w), 100, np.uint16),
        "QA60": np.zeros((h, w), np.int64),
    }
    m = masks.s2_masks(bands, mask_method="qa")
    assert m["FILL_MASK"].all()
    assert m["CLOUDLESS_MASK"].all()


def test_edt_bounded_radius_exact_within_clamp():
    rng = np.random.default_rng(5)
    src = rng.random((30, 50)) < 0.02
    src[4, 9] = True
    full = masks.edt_squared(src)
    bounded = masks.edt_squared(src, max_r=6)
    near = full <= 36.0
    assert np.array_equal(full[near], bounded[near])
    assert (bounded >= full).all()


def test_cloud_dist_saturates_beyond_uint16():
    """Regression: max_cloud_dist > 65535 wrapped modulo 65536."""
    cloudless = np.ones((4, 4), bool)
    d = masks.cloud_dist(cloudless, scale=10.0, max_cloud_dist=70000.0)
    assert (d == 65535).all()


def test_pipeline_morphology_ignores_nodata_boundary(spark):
    """Regression: open/dilate ran on ~CLOUDLESS (incl. nodata), so the fill
    boundary dilated into valid pixels; the reference dilates only the
    cloud|shadow combined mask (mask.py:466-472)."""
    from geedim_spark import codecs
    from geedim_spark.operators import pipeline

    px = np.zeros((2, 30, 30), np.uint16)
    px[0, :, :] = 7
    px[0, :, :10] = 0                       # fill strip; NO clouds at all
    rows = [{"image_id": "I", "caption": "c", "collection":
             "LANDSAT/LC09/C02/T1_L2", "bytes": codecs.encode_raw(px)}]
    import pandas as pd
    images = spark.createDataFrame(pd.DataFrame(rows))
    tiles = pipeline.mask_and_tile(
        images, focal_open_px=2, focal_dilate_px=5,
        max_tile_dim=30, max_tile_bands=2,
    ).collect()
    assert len(tiles) == 1                 # 30x30x2 fits one tile
    assert tiles[0]["cloudless_px"] == 20 * 30  # filled pixels stay cloudless


def test_qa60_validity_window():
    """mask.py:379-385: QA60 populated strictly OUTSIDE [2022-02-01,
    2024-02-01] — both endpoints invalid (difference lt 0 / gt 0)."""
    import pandas as pd

    assert masks.qa60_valid(pd.Timestamp("2022-01-31 23:59:59"))
    assert not masks.qa60_valid(pd.Timestamp("2022-02-01"))
    assert not masks.qa60_valid(pd.Timestamp("2023-06-15"))
    assert not masks.qa60_valid(pd.Timestamp("2024-02-01"))
    assert masks.qa60_valid(pd.Timestamp("2024-02-01 00:00:01"))
    assert masks.qa60_valid(None)  # no timestamp -> assume populated


def test_masks_for_dispatch():
    """masks_for routes by collection id (mask.py:536-544) and applies the
    QA60 window to the S2 qa method."""
    w = h = 20
    B1 = np.full((h, w), 7, np.uint16)
    qa60 = np.zeros((h, w), np.uint16)
    qa60[:, 12:] = 1 << 10  # 8-col opaque-cloud strip
    qa_pixel = np.zeros((h, w), np.uint16)
    qa_pixel[:, 12:] = 1 << 9

    # S2 + populated QA60: qa cloud strip + open(2)/dilate(5) morphology
    m = masks.masks_for(
        "COPERNICUS/S2_SR_HARMONIZED", {"B1": B1, "QA60": qa60},
        time_start="2024-06-01",
    )
    assert m["CLOUD_MASK"].sum() == 8 * h
    assert m["CLOUDLESS_MASK"].sum() == (w - (8 + 3)) * h

    # S2 inside the unpopulated window: the reference MASKS the QA band,
    # which propagates to CLOUDLESS and unmask()-s to zero — the image is
    # unverifiable, NOT perfectly clear (mask.py:374-391 + image.py:641)
    m = masks.masks_for(
        "COPERNICUS/S2_SR_HARMONIZED", {"B1": B1, "QA60": qa60},
        time_start="2023-01-01",
    )
    assert m["CLOUD_MASK"].sum() == 0
    assert m["CLOUDLESS_MASK"].sum() == 0
    assert not bool(m["VALID"])

    # Landsat: QA_PIXEL bits, no morphology
    m = masks.masks_for(
        "LANDSAT/LC09/C02/T1_L2", {"B1": B1, "QA_PIXEL": qa_pixel},
        time_start="2023-01-01",  # window does not apply to Landsat
    )
    assert m["CLOUD_MASK"].sum() == 8 * h
    assert m["CLOUDLESS_MASK"].sum() == (w - 8) * h

    # unknown collection: no cloud support
    m = masks.masks_for("MOCK/CONST", {"B1": B1, "QA_PIXEL": qa_pixel})
    assert "CLOUD_MASK" not in m
    assert m["CLOUDLESS_MASK"].all()


def test_s2_prob_morphology_closed_form(spark):
    """cloud-prob pipeline (threshold -> open/dilate): left prob strip of
    width a erodes to a-2 then dilates to a+3; unmatched rows fully mask."""
    imgs = synth.images_df(spark, 24, scalar_filter="fmt = 'raw'")
    probs = synth.probs_df(spark, 24)
    got = {r["image_id"]: r
           for r in masks.s2_prob_mask_stats(imgs, probs, 60.0).collect()}
    for r in imgs.select("image_id", "i", "f_px", "w", "h").collect():
        g = got[r["image_id"]]
        w, h, f = r["w"], r["h"], r["f_px"]
        if r["i"] % 2 == 1:
            assert g["cloudless_px"] == 0 and not g["prob_matched"]
            continue
        a = (r["i"] % 10) * 4
        ceff = min(w, a + 3) if a > 2 else 0
        assert g["prob_matched"]
        assert g["cloudless_px"] == (w - max(f, ceff)) * h


def test_qa60_valid_nat_assumes_populated():
    """NaT (tables without time_start) must NOT land inside the unpopulated
    window — NaT comparisons are all-False, which silently disabled S2
    cloud masking before the explicit isna guard."""
    import pandas as pd

    assert masks.qa60_valid(pd.NaT)
    qa = np.zeros((8, 8), np.uint16); qa[:, 4:] = 1 << 10
    bands = {"B1": np.full((8, 8), 5, np.uint16), "QA60": qa}
    m = masks.masks_for("COPERNICUS/S2_SR_HARMONIZED", bands, time_start=pd.NaT)
    assert m["CLOUD_MASK"].sum() == 4 * 8  # qa bits honoured


def test_focal_decomposition_equals_naive():
    """The vertical-segment disk decomposition must equal the per-offset
    union/intersection for every radius and boundary case."""
    rng = np.random.default_rng(17)
    for shape in [(23, 31), (5, 5), (9, 40)]:
        m = rng.random(shape) < 0.15
        for r in (1, 2, 3, 5, 7):
            naive_max = np.zeros_like(m)
            for dy, dx in ref_masks._disk_offsets(r):
                naive_max |= masks._shift(m, dy, dx, False)
            assert np.array_equal(masks.focal_max(m, r), naive_max), (shape, r)
            assert np.array_equal(
                masks.focal_min(m, r), ref_masks._focal_min_naive(m, r)
            ), (shape, r)


def test_s2_score_cs_band_selection(spark):
    """cs vs cs_cdf band choice (mask.py:287, CloudScoreBand): each band
    has its own clear-strip closed form in the synthetic score raster, so
    selecting cs_cdf must change cloudless counts to ITS strip widths."""
    from geedim_spark import synth

    n = 24
    imgs = synth.images_df(
        spark, n, scalar_filter="fmt = 'raw' AND i % 2 = 0"
    ).select("image_id", "bytes")
    scores = synth.scores_df(spark, n)
    for cs_band in ("cs", "cs_cdf"):
        got = masks.s2_score_mask_stats(
            imgs, scores, score_thresh=0.6, cs_band=cs_band
        ).collect()
        assert all(r["score_matched"] for r in got)

    # the two bands genuinely differ on at least one image
    a = masks.s2_score_mask_stats(imgs, scores, cs_band="cs").collect()
    b = masks.s2_score_mask_stats(imgs, scores, cs_band="cs_cdf").collect()
    da = {r["image_id"]: r["cloudless_px"] for r in a}
    db = {r["image_id"]: r["cloudless_px"] for r in b}
    assert any(da[k] != db[k] for k in da)

    with pytest.raises(ValueError):
        masks.s2_score_mask_stats(imgs, scores, cs_band="nope")


def test_pipeline_band_regex_selects_after_masking(spark):
    """download band selection (cli.py:364-372 -> image.py:796-798): masks
    are computed from the FULL band set first, then only matching bands
    are tiled.  A B1-only export still carries the cloud-mask nodata
    holes; a QA-only export still exists even though QA is not a validity
    band; no-match raises loudly."""
    import pandas as pd

    from geedim_spark import codecs
    from geedim_spark.operators import pipeline

    px = np.zeros((2, 20, 20), np.uint16)
    px[0, :, :] = 7
    px[1, :, 12:] = 1 << 9  # 8-col cloud strip in QA_PIXEL
    rows = [{"image_id": "I", "caption": "c",
             "collection": "LANDSAT/LC09/C02/T1_L2",
             "bytes": codecs.encode_raw(px)}]
    images = spark.createDataFrame(pd.DataFrame(rows))

    tiles = pipeline.mask_and_tile(
        images, band_regex="B1", max_tile_dim=20, max_tile_bands=2,
    ).collect()
    assert len(tiles) == 1 and tiles[0]["band_stop"] == 1
    out = codecs.decode(bytes(tiles[0]["tile_bytes"]))
    assert out.shape == (1, 20, 20)
    # cloud strip masked to nodata in the exported band
    assert (out[0, :, 12:] == 0).all() and (out[0, :, :12] == 7).all()

    qa_only = pipeline.mask_and_tile(
        images, band_regex="QA_.*", max_tile_dim=20, max_tile_bands=2,
    ).collect()
    blk = codecs.decode(bytes(qa_only[0]["tile_bytes"]))
    assert blk.shape == (1, 20, 20) and (blk[0, :, 12:] == (1 << 9)).all()

    with pytest.raises(Exception, match="band_regex"):
        pipeline.mask_and_tile(
            images, band_regex="SR_B4", max_tile_dim=20, max_tile_bands=2,
        ).collect()


def test_pipeline_scale_offset_after_masks(spark):
    """download --scale-offset semantics (image.py:137-172 via
    prepareForExport): STAC factors applied AFTER mask computation, before
    dtype handling; identity-factor collections stay bit-identical uint16;
    masked pixels take the float nodata."""
    import pandas as pd

    from geedim_spark import codecs
    from geedim_spark.operators import pipeline

    px = np.zeros((2, 20, 20), np.uint16)
    px[0, :, :] = 1000
    px[1, :, 12:] = 1 << 9
    rows = [
        {"image_id": "L", "caption": "c",
         "collection": "LANDSAT/LC09/C02/T1_L2",
         "bytes": codecs.encode_raw(px)},
        {"image_id": "M", "caption": "c", "collection": "MOCK/CONST",
         "bytes": codecs.encode_raw(px)},
    ]
    images = spark.createDataFrame(pd.DataFrame(rows))
    tiles = {r["image_id"]: r for r in pipeline.mask_and_tile(
        images, scale_offset=True, max_tile_dim=20, max_tile_bands=2,
    ).collect()}

    lt = codecs.decode(bytes(tiles["L"]["tile_bytes"]))
    assert lt.dtype == np.float64
    want = 1000 * 2.75e-05 - 0.2
    assert np.allclose(lt[0, :, :12], want)      # reflectance converted
    assert (lt[0, :, 12:] == float("-inf")).all()  # cloud strip -> nodata
    assert (lt[1, :, 12:] == (1 << 9)).all()     # QA identity factors

    mt = codecs.decode(bytes(tiles["M"]["tile_bytes"]))
    assert mt.dtype == np.uint16                 # all-identity: untouched
    assert (mt[0, :, :12] == 1000).all()


def test_s2_shadow_param_stats_strip_fractions(spark):
    """VERDICT r4 #5: the cast-shadow parameter sweep (dark threshold,
    SCL water exclusion, shadow_dist reach, mask_shadows) over the S2
    shadow strip mock — image 0 (a=6, c=4, d=4, e=4, w=30) by hand:
    shadow = dark land strip (80 px), water excluded; dark=0.10 makes
    nothing dark AND the width-4 cloud erodes away (cloudless = all);
    shadow_dist=30 caps the shadow at 3 columns; s2_toa adds the water
    strip back."""
    from pyspark.sql import functions as F

    ids = spark.range(2).select(F.col("id").alias("image_id"))
    got = {r["image_id"]: r
           for r in masks.s2_shadow_param_stats(ids).collect()}
    r0 = got[0]
    assert r0["fill_px"] == 20 * 30
    assert r0["cloud_px"] == 20 * 4
    assert r0["shadow_px"] == 20 * 4          # dark LAND only
    assert r0["cloudless_px"] == 20 * (30 - 14)
    assert r0["cloudless_dark10_px"] == 20 * 30   # c=4 erodes away
    assert r0["shadow_sd30_px"] == 60
    assert r0["shadow_toa_px"] == 20 * 8          # + water strip
    assert r0["cloudless_nsh_px"] == 20 * 30
    # image 1 (c=6): the cloud survives the open -> dilated width c+6
    r1 = got[1]
    assert r1["cloudless_nsh_px"] == r1["fill_px"] - 20 * (6 + 6)
