"""Composite oracles: analytic per-column expectations over co-registered
strip images (ports the unique-stat pattern of
/root/reference/tests/test_collection.py:442-604)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from geedim_spark import codecs
from geedim_spark.operators import composite as comp


def _stack(vs, f_pxs, c_pxs, w=20, h=10):
    """Build (stack, valid) from strip params; cloud cols are invalid."""
    stacks, valids = [], []
    for v, f, c in zip(vs, f_pxs, c_pxs):
        px = np.zeros((2, h, w), np.uint16)
        px[0, :, :] = v
        px[0, :, :f] = 0
        valid = np.ones((h, w), bool)
        valid[:, :f] = False
        if c:
            valid[:, w - c:] = False
        stacks.append(px)
        valids.append(valid)
    return np.stack(stacks), np.stack(valids)


def test_mosaic_first_valid():
    # stack pre-sorted best-first: image0 wins where valid
    stack, valid = _stack([10, 20, 30], [8, 4, 0], [0, 0, 0])
    out, ov = comp.composite_stack(stack, valid, "mosaic")
    assert ov.all()
    assert (out[0, :, 8:] == 10).all()    # image0 valid from col 8
    assert (out[0, :, 4:8] == 20).all()   # image1 covers cols 4..7
    assert (out[0, :, :4] == 30).all()    # image2 covers cols 0..3


def test_mean_median_masked():
    stack, valid = _stack([10, 20, 40], [4, 0, 0], [0, 0, 2])
    out_mean, _ = comp.composite_stack(stack, valid, "mean")
    out_med, _ = comp.composite_stack(stack, valid, "median")
    # col 0..3: only images 1,2 valid -> mean 30, median 30
    assert (out_mean[0, :, 0:4] == 30).all()
    assert (out_med[0, :, 0:4] == 30).all()
    # col 4..17: all valid -> mean 70/3, median 20
    assert np.allclose(out_mean[0, :, 4:18], 70 / 3)
    assert (out_med[0, :, 4:18] == 20).all()
    # col 18..19: image2 cloud -> images 0,1 -> mean 15
    assert (out_mean[0, :, 18:] == 15).all()


def test_mode_and_all_masked():
    stack, valid = _stack([10, 10, 40], [0, 0, 0], [0, 0, 0])
    out, _ = comp.composite_stack(stack, valid, "mode")
    assert (out[0] == 10).all()
    # a fully-masked pixel -> out_valid False
    stack, valid = _stack([10, 20], [4, 4], [0, 0])
    out, ov = comp.composite_stack(stack, valid, "mean")
    assert not ov[:, :4].any() and ov[:, 4:].all()


def test_qmosaic_argmax_clouddist():
    stack, valid = _stack([10, 20], [0, 0], [0, 0])
    cd = np.zeros((2, 10, 20), np.uint16)
    cd[0, :, :10] = 100   # image0 further from cloud on the left half
    cd[1, :, 10:] = 100
    out, _ = comp.composite_stack(stack, valid, "q-mosaic", clouddist=cd)
    assert (out[0, :, :10] == 10).all()
    assert (out[0, :, 10:] == 20).all()


def test_medoid_multiband_vs_bruteforce():
    """Hard-part 4: vectorised O(N^2) medoid == per-pixel brute force over
    2-band random stacks with masking."""
    rng = np.random.default_rng(31)
    n, bands, h, w = 6, 2, 5, 7
    stack = rng.integers(1, 100, size=(n, bands, h, w)).astype(np.uint16)
    valid = rng.random((n, h, w)) > 0.25
    valid[0] = True  # at least one valid everywhere
    got, _ = comp.composite_stack(stack, valid, "medoid")
    for y in range(h):
        for x in range(w):
            best, best_d = None, None
            for i in range(n):
                if not valid[i, y, x]:
                    continue
                d = 0.0
                for j in range(n):
                    if valid[j, y, x]:
                        diff = stack[i, :, y, x].astype(float) - stack[j, :, y, x]
                        d += float(np.sqrt((diff ** 2).sum()))
                if best_d is None or d < best_d:
                    best, best_d = i, d
            assert got[:, y, x].tolist() == stack[best, :, y, x].tolist(), (y, x)


def test_medoid_is_median_value_single_band():
    """With one effective band, the medoid minimises sum |v_i - v_j| —
    i.e. it picks the median value (medoid.py:25-95 semantics)."""
    stack, valid = _stack([10, 22, 40], [0, 0, 0], [0, 0, 0])
    out, _ = comp.composite_stack(stack, valid, "medoid")
    # band 1 (QA) is all zeros for every image -> distances driven by band 0
    assert (out[0] == 22).all()


def test_composite_collection_spark(spark):
    """End-to-end: encode strip images, composite via applyInPandas, decode."""
    rows = []
    base = pd.Timestamp("2024-01-01")
    for i, (v, f) in enumerate([(10, 0), (20, 4), (30, 8)]):
        px = np.zeros((2, 10, 20), np.uint16)
        px[0, :, :] = v
        px[0, :, :f] = 0
        rows.append({
            "image_id": f"IMG/{i:08d}",
            "bytes": codecs.encode_raw(px),
            "collection": "MOCK/CONST",
            "time_start": base + pd.Timedelta(hours=i),
        })
    images = spark.createDataFrame(pd.DataFrame(rows))
    out = comp.composite_collection(images, "mosaic").collect()
    assert len(out) == 1 and out[0]["n_inputs"] == 3
    px = codecs.decode(bytes(out[0]["bytes"]))
    # sorted by time desc: image2 (v=30, f=8) wins where valid
    assert (px[0, :, 8:] == 30).all()
    assert (px[0, :, 4:8] == 20).all()
    assert (px[0, :, :4] == 10).all()

    meta = comp.composite_metadata(images, "mosaic").first()
    assert meta["system_index"] == "MOSAIC-COMP"
    assert meta["n_inputs"] == 3


def test_composite_collection_int_group_col(spark):
    """A non-string group column groups like its string form: the output
    ``group_id`` is the group value cast to string."""
    from pyspark.sql import functions as F

    rows = []
    base = pd.Timestamp("2024-01-01")
    for i, v in enumerate([10, 20, 30, 40]):
        rows.append({
            "image_id": f"IMG/{i:08d}",
            "bytes": codecs.encode_raw(np.full((2, 4, 6), v, np.uint16)),
            "collection": "MOCK/CONST",
            "time_start": base + pd.Timedelta(hours=i),
            "parity": i % 2,
        })
    images = spark.createDataFrame(pd.DataFrame(rows)).withColumn(
        "parity", F.col("parity").cast("int")
    )
    out = {r["group_id"]: r for r in
           comp.composite_collection(images, "mean", group_col="parity")
           .collect()}
    assert set(out) == {"0", "1"}
    assert all(r["n_inputs"] == 2 for r in out.values())
    assert (codecs.decode(bytes(out["0"]["bytes"]))[0] == 20).all()
    assert (codecs.decode(bytes(out["1"]["bytes"]))[0] == 30).all()


def test_composite_tiled_equals_whole_image(spark):
    """Tiled (groupBy tile coord) composite == whole-image composite —
    pixelwise reducers commute with tiling."""
    rows = []
    rng = np.random.default_rng(13)
    base = pd.Timestamp("2024-01-01")
    for i in range(6):
        px = rng.integers(1, 50, size=(2, 20, 24)).astype(np.uint16)
        px[0, :, : (i % 3) * 4] = 0  # fill strips
        rows.append({
            "image_id": f"IMG/{i:08d}", "bytes": codecs.encode_raw(px),
            "collection": "MOCK/CONST",
            "time_start": base + pd.Timedelta(hours=i),
        })
    images = spark.createDataFrame(pd.DataFrame(rows))
    for method in ["mosaic", "mean", "median", "mode", "medoid"]:
        whole = codecs.decode(bytes(
            comp.composite_collection(images, method).first()["bytes"]
        ))
        tiles = comp.composite_tiled(images, method, tile_h=8, tile_w=8).collect()
        got = np.full_like(whole, np.nan)
        for t in tiles:
            blk = codecs.decode(bytes(t["bytes"]))
            got[:, t["tr"] * 8:t["tr"] * 8 + blk.shape[1],
                t["tc"] * 8:t["tc"] * 8 + blk.shape[2]] = blk
        assert np.array_equal(
            np.nan_to_num(got, nan=-1), np.nan_to_num(whole, nan=-1)
        ), method


def test_sort_for_composite_orderings(spark):
    """O2/O3 orderings: closest-to-date wins; highest portion wins."""
    import pandas as pd
    rows = [
        {"image_id": "A", "time_start": pd.Timestamp("2024-01-01"),
         "CLOUDLESS_PORTION": 40.0},
        {"image_id": "B", "time_start": pd.Timestamp("2024-02-01"),
         "CLOUDLESS_PORTION": 90.0},
        {"image_id": "C", "time_start": pd.Timestamp("2024-03-01"),
         "CLOUDLESS_PORTION": 70.0},
    ]
    df = spark.createDataFrame(pd.DataFrame(rows))
    by_date = comp.sort_for_composite(df, "mosaic", date="2024-02-05")
    best = by_date.orderBy("sort_key", ascending=False).first()
    assert best["image_id"] == "B"  # closest to the target date
    by_portion = comp.sort_for_composite(df, "mosaic", by_portion=True)
    best = by_portion.orderBy("sort_key", ascending=False).first()
    assert best["image_id"] == "B"  # highest cloudless portion
    default = comp.sort_for_composite(df, "mosaic")
    best = default.orderBy("sort_key", ascending=False).first()
    assert best["image_id"] == "C"  # latest capture


def test_composite_deterministic_across_parallelism(spark):
    rows = []
    rng = np.random.default_rng(11)
    base = pd.Timestamp("2024-01-01")
    for i in range(12):
        px = rng.integers(1, 100, size=(2, 8, 8)).astype(np.uint16)
        rows.append({
            "image_id": f"IMG/{i:08d}",
            "bytes": codecs.encode_raw(px),
            "collection": "MOCK/CONST",
            "time_start": base,  # identical sort keys -> tie-break by id
        })
    pdf = pd.DataFrame(rows)
    a = comp.composite_collection(
        spark.createDataFrame(pdf).repartition(1), "mosaic").first()["bytes"]
    b = comp.composite_collection(
        spark.createDataFrame(pdf).repartition(8), "mosaic").first()["bytes"]
    assert bytes(a) == bytes(b)


def test_masked_mode_vectorised_vs_bruteforce():
    """Regression: the sort/run-length mode == per-pixel np.unique mode
    (ties -> smallest value), including all-invalid pixels -> NaN."""
    rng = np.random.default_rng(17)
    n, bands, h, w = 7, 2, 6, 9
    stack = rng.integers(0, 4, size=(n, bands, h, w)).astype(np.uint16)
    valid = rng.random((n, h, w)) > 0.3
    valid[:, 0, 0] = False  # an all-invalid pixel
    got = comp._masked_mode(stack, valid)
    for b in range(bands):
        for y in range(h):
            for x in range(w):
                ok = valid[:, y, x]
                if not ok.any():
                    assert np.isnan(got[b, y, x])
                    continue
                vals, counts = np.unique(stack[ok, b, y, x], return_counts=True)
                assert got[b, y, x] == vals[np.argmax(counts)], (b, y, x)


def test_composite_tiled_honours_sort_key(spark):
    """Regression: composite_tiled silently overwrote a caller-attached
    sort_key with capture time — a date-targeted mosaic picked the newest
    image instead of the closest-to-date one."""
    import pandas as pd
    rows = []
    base = pd.Timestamp("2024-01-01")
    for i in range(4):
        px = np.full((1, 8, 8), 10 + i, np.uint16)
        rows.append({
            "image_id": f"IMG/{i:08d}", "bytes": codecs.encode_raw(px),
            "collection": "MOCK/CONST", "time_start": base + pd.Timedelta(days=i),
        })
    images = spark.createDataFrame(pd.DataFrame(rows))
    dated = comp.sort_for_composite(images, "mosaic", date="2024-01-02")
    tiles = comp.composite_tiled(dated, "mosaic", tile_h=8, tile_w=8).collect()
    px = codecs.decode(bytes(tiles[0]["bytes"]))
    assert (px == 11).all()  # i=1 is closest to the target date, not i=3


def test_tiled_qmosaic_equals_whole_image(spark):
    """composite_tiled('q-mosaic') == composite_collection('q-mosaic')
    bit-for-bit: each tile carries its image's whole-image CLOUD_DIST.  The
    120 m clamp reaches 12 px, close to the 16 px tile, so a per-tile EDT
    would saturate tiles whose nearest cloud lies in a neighbour."""
    from geedim_spark import synth
    from tests.reference.stencil import assemble_tiles

    imgs = synth.images_df(
        spark, 40, scalar_filter="fmt = 'raw' AND i % 3 = 1 AND i % 7 <> 0"
    )
    whole_rows = comp.composite_collection(
        imgs, "q-mosaic", scale=10.0, max_cloud_dist=120.0
    ).collect()
    assert len(whole_rows) == 1
    whole = codecs.decode(bytes(whole_rows[0]["bytes"]))

    tiles = comp.composite_tiled(
        imgs, "q-mosaic", tile_h=16, tile_w=16, scale=10.0,
        max_cloud_dist=120.0,
    ).collect()
    got = np.stack([
        assemble_tiles(
            [{"tr": r["tr"], "tc": r["tc"],
              "tile_bytes": _band(r["bytes"], b)} for r in tiles], 16, 16
        )
        for b in range(whole.shape[0])
    ])
    assert got.shape == whole.shape
    assert np.array_equal(np.isnan(got), np.isnan(whole))
    assert np.array_equal(got[~np.isnan(got)], whole[~np.isnan(whole)])


def _band(buf, b):
    """Re-encode band b of a composite tile for assemble_tiles."""
    px = codecs.decode(bytes(buf))
    return codecs.encode_raw(px[b:b + 1])


def test_spectral_distance_metrics_closed_forms():
    """sed/sam/sid/emd vs independent per-pixel scalar recomputation
    (the reference medoid module's metric parameter, medoid.py:25-70 +
    enums.py:137-152)."""
    import numpy as np

    from geedim_spark.operators import composite as comp

    rng = np.random.default_rng(7)
    s = rng.uniform(1.0, 100.0, size=(4, 3, 2, 2))
    sj = rng.uniform(1.0, 100.0, size=(3, 2, 2))

    got = {m: comp.spectral_distance(s, sj, m)
           for m in ("sed", "sam", "sid", "emd")}
    for i in range(4):
        for y in range(2):
            for x in range(2):
                a, b = s[i, :, y, x], sj[:, y, x]
                assert got["sed"][i, y, x] == pytest.approx(
                    np.sqrt(((a - b) ** 2).sum()))
                cos = (a @ b) / (np.linalg.norm(a) * np.linalg.norm(b))
                assert got["sam"][i, y, x] == pytest.approx(np.arccos(cos))
                p, q = a / a.sum(), b / b.sum()
                assert got["sid"][i, y, x] == pytest.approx(
                    float(((p - q) * (np.log(p) - np.log(q))).sum()))
                assert got["emd"][i, y, x] == pytest.approx(
                    float(np.abs(np.cumsum(p) - np.cumsum(q)).sum()))

    # identical spectra -> zero distance under every metric
    for m in ("sed", "sam", "sid", "emd"):
        z = comp.spectral_distance(sj[None], sj, m)
        assert np.allclose(z, 0.0, atol=1e-9)

    with pytest.raises(ValueError):
        comp.spectral_distance(s, sj, "nope")


def test_medoid_metric_parameter_changes_winner():
    """A stack engineered so the sqrt-SED medoid and the SAM medoid pick
    DIFFERENT images: image 2 is a scaled copy of image 0 (SAM distance 0,
    large SED), image 1 is close in magnitude to both (small SED).  All
    metrics stay valid medoids (brute-force verified)."""
    import numpy as np

    from geedim_spark.operators import composite as comp

    base = np.array([10.0, 20.0, 40.0])
    stack = np.stack([
        np.tile(base.reshape(3, 1, 1), (1, 1, 1)),
        np.tile((base + 3.0).reshape(3, 1, 1), (1, 1, 1)),
        np.tile((base * 4.0).reshape(3, 1, 1), (1, 1, 1)),
    ])
    valid = np.ones((3, 1, 1), dtype=bool)

    def brute(metric):
        best, best_d = None, None
        for j in range(3):
            d = sum(
                float(comp.spectral_distance(
                    stack[k][None], stack[j], metric)[0, 0, 0])
                for k in range(3)
            )
            if best_d is None or d < best_d - 1e-12:
                best, best_d = j, d
        return best

    for metric in ("sed", "sam", "sid", "emd"):
        got = comp._medoid(stack, valid, metric)
        want = stack[brute(metric)]
        assert np.allclose(got, want), metric
    # and the engineered divergence actually happened
    assert brute("sed") != brute("sam")


def test_tiled_qmosaic_equals_whole_image_random_clouds(spark):
    """The STRONG form of tiled == whole-image q-mosaic: random scattered
    clouds produce diagonal (irrational-multiple-of-scale) EDT distances
    and the 170 m clamp (17 px) outreaches the 16 px tile, so this passes
    only if every tile ranks by the same uint16 whole-image CLOUD_DIST
    band — float or per-tile distances pick different argmax winners."""
    import pandas as pd

    from tests.reference.stencil import assemble_tiles

    rng = np.random.default_rng(5)
    h = w = 40
    rows = []
    for i in range(6):
        px = rng.integers(1, 60000, size=(2, h, w)).astype(np.uint16)
        qa = np.zeros((h, w), np.uint16)
        qa[rng.random((h, w)) < 0.04] = 1 << 9  # scattered clouds
        px[1] = qa
        # scattered nodata holes in the data band
        px[0][rng.random((h, w)) < 0.05] = 0
        rows.append({
            "image_id": f"IMG/{i:08d}",
            "bytes": codecs.encode_raw(px),
            "collection": "LANDSAT/LC09/C02/T1_L2",
            "time_start": pd.Timestamp("2024-03-01") + pd.Timedelta(days=i),
        })
    imgs = spark.createDataFrame(pd.DataFrame(rows))

    whole_rows = comp.composite_collection(
        imgs, "q-mosaic", scale=10.0, max_cloud_dist=170.0
    ).collect()
    whole = codecs.decode(bytes(whole_rows[0]["bytes"]))

    tiles = comp.composite_tiled(
        imgs, "q-mosaic", tile_h=16, tile_w=16, scale=10.0,
        max_cloud_dist=170.0,
    ).collect()
    got = np.stack([
        assemble_tiles(
            [{"tr": r["tr"], "tc": r["tc"],
              "tile_bytes": _band(r["bytes"], b)} for r in tiles], 16, 16
        )
        for b in range(whole.shape[0])
    ])
    assert got.shape == whole.shape
    assert np.array_equal(np.isnan(got), np.isnan(whole))
    assert np.array_equal(got[~np.isnan(got)], whole[~np.isnan(whole)])


def _strip_images_df(spark, n, w=24, h=20, seed=7):
    rows = []
    rng = np.random.default_rng(seed)
    base = pd.Timestamp("2024-01-01")
    for i in range(n):
        px = rng.integers(1, 50, size=(2, h, w)).astype(np.uint16)
        px[0, :, : (i % 3) * 4] = 0  # fill strips
        rows.append({
            "image_id": f"IMG/{i:08d}", "bytes": codecs.encode_raw(px),
            "collection": "MOCK/CONST",
            "time_start": base + pd.Timedelta(hours=i),
        })
    return spark.createDataFrame(pd.DataFrame(rows))


def test_medoid_cap_helper_warns_loudly():
    """The cap helper (shared by the whole-image and tiled kernels) warns
    with a RuntimeWarning and truncates to the best-N prefix; under the
    cap it is a no-op and silent."""
    pdf = pd.DataFrame({"image_id": [f"IMG/{i:08d}" for i in range(32)]})
    with pytest.warns(RuntimeWarning, match="medoid_max_stack"):
        capped = comp._cap_medoid_stack(pdf, "medoid", 8, "group")
    assert list(capped["image_id"]) == list(pdf["image_id"][:8])
    import warnings as _w
    with _w.catch_warnings():
        _w.simplefilter("error")
        assert comp._cap_medoid_stack(pdf, "medoid", 64, "group") is pdf
        assert comp._cap_medoid_stack(pdf, "mean", 8, "group") is pdf


def test_medoid_max_stack_caps_group_and_reports(spark):
    """VERDICT r3 #5: a 32-image medoid group beyond the cap is truncated
    to the best ``medoid_max_stack`` inputs by the explicit total order
    and reports the truncation (n_used < n_inputs); the result equals the
    composite of exactly that best-N subset — i.e. the per-task stack is
    provably bounded at medoid_max_stack images.  (The RuntimeWarning
    fires in the executor worker — unit-tested on the helper above.)"""
    images = _strip_images_df(spark, 32)
    out = comp.composite_collection(
        images, "medoid", medoid_max_stack=8
    ).collect()
    assert len(out) == 1
    assert out[0]["n_inputs"] == 32 and out[0]["n_used"] == 8
    capped = codecs.decode(bytes(out[0]["bytes"]))

    # best-8 by (sort_key desc, image_id asc) == the 8 newest images
    from pyspark.sql import functions as F
    best8 = images.orderBy(F.col("time_start").desc(), "image_id").limit(8)
    exact = codecs.decode(bytes(
        comp.composite_collection(best8, "medoid").first()["bytes"]
    ))
    assert np.array_equal(
        np.nan_to_num(capped, nan=-1), np.nan_to_num(exact, nan=-1)
    )


def test_medoid_max_stack_tiled_matches_whole_image(spark):
    """The tiled medoid applies the SAME cap with the SAME total order, so
    every tile truncates to the same subset and the capped tiled mosaic
    equals the capped whole-image composite bit-for-bit; n_inputs keeps
    the full group size so truncation is visible downstream."""
    images = _strip_images_df(spark, 32)
    whole_row = comp.composite_collection(
        images, "medoid", medoid_max_stack=8
    ).first()
    whole = codecs.decode(bytes(whole_row["bytes"]))
    tiles = comp.composite_tiled(
        images, "medoid", tile_h=8, tile_w=8, medoid_max_stack=8
    ).collect()
    assert all(t["n_inputs"] == 32 for t in tiles)
    got = np.full_like(whole, np.nan)
    for t in tiles:
        blk = codecs.decode(bytes(t["bytes"]))
        got[:, t["tr"] * 8:t["tr"] * 8 + blk.shape[1],
            t["tc"] * 8:t["tc"] * 8 + blk.shape[2]] = blk
    assert np.array_equal(
        np.nan_to_num(got, nan=-1), np.nan_to_num(whole, nan=-1)
    )


def test_medoid_half_triangle_matches_full_loop():
    """VERDICT r4 #8: the symmetric-half medoid kernel must equal the
    full O(N^2) loop for the sed oracle metric (exact — same winners),
    and match within fp noise for the angular/divergence metrics whose
    full loop carried a spurious ~1e-8 self-distance."""
    import numpy as np

    from geedim_spark.operators import composite as C

    rng = np.random.default_rng(42)
    stack = rng.integers(0, 1000, size=(9, 2, 24, 24)).astype(np.uint16)
    valid = rng.random((9, 24, 24)) > 0.25

    def full_sumdist(metric):
        s = stack.astype(np.float64)
        n = s.shape[0]
        sumdist = np.zeros((n,) + s.shape[2:])
        for j in range(n):
            d_j = C.spectral_distance(s, s[j], metric)
            both = valid & valid[j]
            sumdist += np.where(both, d_j, 0.0)
        sumdist = np.where(valid, sumdist, np.inf)
        best = np.argmin(sumdist, axis=0)
        return sumdist, np.take_along_axis(
            stack, best[None, None, :, :], axis=0)[0].astype(np.float64)

    # sed: bit-identical winners (the driver-oracle metric)
    _, want = full_sumdist("sed")
    got = C._medoid(stack, valid, "sed")
    np.testing.assert_array_equal(got, want)
    # all metrics: the half-triangle sum equals the full sum to fp noise
    for metric in ("sed", "sam", "sid", "emd"):
        want_sd, _ = full_sumdist(metric)
        s = stack.astype(np.float64)
        n = s.shape[0]
        sd = np.zeros((n,) + s.shape[2:])
        for j in range(n - 1):
            d_j = C.spectral_distance(s[j + 1:], s[j], metric)
            both = valid[j + 1:] & valid[j]
            contrib = np.where(both, d_j, 0.0)
            sd[j + 1:] += contrib
            sd[j] += contrib.sum(axis=0)
        sd = np.where(valid, sd, np.inf)
        fin = np.isfinite(want_sd)
        np.testing.assert_allclose(sd[fin], want_sd[fin], atol=1e-6)


def test_composite_by_period_groups_months(spark):
    """Four MOCK images, two per calendar month: each month's median is
    the mean of its two values; labels are sortable 'yyyy-MM' strings."""
    rows = []
    for i, (v, ts) in enumerate([
        (10, "2024-01-05"), (20, "2024-01-20"),
        (40, "2024-02-03"), (80, "2024-02-25"),
    ]):
        px = np.full((2, 6, 8), v, np.uint16)
        rows.append({
            "image_id": f"IMG/{i:08d}", "bytes": codecs.encode_raw(px),
            "collection": "MOCK/CONST", "time_start": pd.Timestamp(ts),
        })
    images = spark.createDataFrame(pd.DataFrame(rows))
    out = {r["group_id"]: r for r in
           comp.composite_by_period(images, "month", "median").collect()}
    assert set(out) == {"2024-01", "2024-02"}
    assert all(r["n_inputs"] == 2 for r in out.values())
    assert (codecs.decode(bytes(out["2024-01"]["bytes"]))[0] == 15).all()
    assert (codecs.decode(bytes(out["2024-02"]["bytes"]))[0] == 60).all()
    # yearly rollup folds both months into one group
    year = comp.composite_by_period(images, "year", "median").collect()
    assert [r["group_id"] for r in year] == ["2024"] and \
        year[0]["n_inputs"] == 4
    with pytest.raises(ValueError, match="period must"):
        comp.composite_by_period(images, "fortnight")
