"""Multimodal plumbing: real codecs, stub decoders, aspect buckets and the
metadata quality gate."""

from __future__ import annotations

import numpy as np
import pytest

from geedim_spark import synth
from geedim_spark.operators import multimodal as mm


def test_image_features_real_decode(spark):
    imgs = synth.images_df(spark, 12).filter("fmt = 'raw'")
    feats = {r["image_id"]: r for r in mm.image_features(imgs).collect()}
    src = {r["image_id"]: r for r in
           imgs.select("image_id", "v", "f_px", "w", "h", "phash").collect()}
    for image_id, f in feats.items():
        s = src[image_id]
        want_mean = s["v"] * (s["w"] - s["f_px"]) * s["h"] / (s["w"] * s["h"])
        assert f["band_means"][0] == pytest.approx(want_mean)
        assert f["phash"] == s["phash"]  # same phash64 as synthesis


def test_stub_decode_deterministic_and_marked(spark):
    buf = b"not-actually-a-jpeg"
    a = mm.decode_pixels(buf, "jpeg", 8, 6)
    b = mm.decode_pixels(buf, "jpeg", 8, 6)
    assert a.shape == (3, 6, 8) and np.array_equal(a, b)
    with pytest.raises(NotImplementedError, match="no decoder"):
        mm.decode_pixels(buf, "tiff", 8, 6)


def test_aspect_bucket_known_assignments(spark):
    """Square -> 1024x1024; extreme wide -> 1536x640; extreme tall ->
    640x1536; exact ratio tie keeps the earliest bucket."""
    df = spark.createDataFrame(
        [(0, 512, 512), (1, 2400, 1000), (2, 1000, 2400),
         # w/h = 1152/896 exactly (ratio 9:7): exact match of bucket 1
         (3, 576, 448),
         # ratio exactly between bucket 1 (9:7) and its mirror is 1:1 ->
         # square input ties nothing; instead test midpoint tie keeps
         # earliest: with symmetric buckets, r=1 is closest to 1024x1024
         (4, 640, 640)],
        "doc_id long, w int, h int",
    )
    out = {r["doc_id"]: r for r in mm.aspect_bucket(df).collect()}
    assert (out[0]["bucket_w"], out[0]["bucket_h"]) == (1024, 1024)
    assert (out[1]["bucket_w"], out[1]["bucket_h"]) == (1536, 640)
    assert (out[2]["bucket_w"], out[2]["bucket_h"]) == (640, 1536)
    assert (out[3]["bucket_w"], out[3]["bucket_h"]) == (1152, 896)
    assert (out[4]["bucket_w"], out[4]["bucket_h"]) == (1024, 1024)
    # ViT token cost at the bucket resolution (patch 14)
    assert out[0]["n_vit_tokens"] == 74 * 74
    assert out[1]["n_vit_tokens"] == 110 * 46


def test_aspect_bucket_exact_tie_keeps_earliest(spark):
    """Two buckets at the SAME ratio: the fold keeps the first."""
    df = spark.createDataFrame([(0, 300, 200)], "doc_id long, w int, h int")
    out = mm.aspect_bucket(
        df, buckets=((30, 20), (600, 400), (10, 10))
    ).collect()[0]
    assert (out["bucket_idx"], out["bucket_w"]) == (0, 30)
    with pytest.raises(ValueError, match="buckets"):
        mm.aspect_bucket(df, buckets=())


def test_aspect_bucket_no_shuffle_no_udf(spark):
    """Scale guard: one codegen'd projection — no Exchange, no Python."""
    df = spark.createDataFrame([(0, 640, 480)], "doc_id long, w int, h int")
    plan = mm.aspect_bucket(df)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Exchange" not in plan
    assert "Python" not in plan


def test_quality_gate_rules(spark):
    """Each rule isolated + the exact cross-multiplied aspect boundary
    (20x40 vs cap 2/1 is an exact tie -> passes)."""
    import pytest as _pytest

    from geedim_spark.operators import multimodal as mm

    rows = [
        (0, 40, 40, "a caption", "raw"),    # all pass
        (1, 20, 40, "a caption", "raw"),    # dim fails; aspect exact tie
        (2, 100, 30, "a caption", "raw"),   # aspect fails (100 > 2*30)
        (3, 40, 40, "hi", "raw"),           # caption fails
        (4, 40, 40, "a caption", "gif"),    # fmt fails
    ]
    imgs = spark.createDataFrame(
        rows, "i long, w int, h int, caption string, fmt string")
    out = {r["i"]: r for r in mm.quality_gate(
        imgs, min_dim=32, max_aspect=(2, 1), min_caption_chars=5,
        fmts=("raw", "dct8")).collect()}
    assert out[0]["keep"]
    assert not out[1]["ok_dim"] and out[1]["ok_aspect"]  # exact tie passes
    assert not out[2]["ok_aspect"] and not out[2]["keep"]
    assert not out[3]["ok_caption"]
    assert not out[4]["ok_fmt"]
    assert [out[i]["keep"] for i in range(5)] == [
        True, False, False, False, False]
    with _pytest.raises(ValueError, match="min_dim"):
        mm.quality_gate(imgs, min_dim=0)
    # scale shape: metadata-only narrow plan — no shuffle, no UDF eval
    plan = (mm.quality_gate(imgs)._jdf.queryExecution()
            .executedPlan().toString())
    assert "Exchange" not in plan and "Python" not in plan
