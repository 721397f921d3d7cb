"""STAC-analog band-props dimension: broadcast join of per-band scale/offset."""

from __future__ import annotations

from geedim_spark import synth
from geedim_spark.sources import band_props as bp


def test_with_scale_offset_broadcast_join(spark):
    imgs = synth.images_meta_df(spark, 12)
    props = bp.band_props_df(spark)
    out = bp.with_scale_offset(imgs, props)
    row = out.filter("collection = 'LANDSAT/LC09/C02/T1_L2'").first()
    so = {b["band"]: (b["scale"], b["offset"]) for b in row["band_so"]}
    assert so["B1"] == (2.75e-05, -0.2)  # the reference's SR constants
    assert so["QA_PIXEL"] == (1.0, 0.0)
    assert out.count() == 12


def test_plan_uses_broadcast(spark):
    imgs = synth.images_meta_df(spark, 12)
    out = bp.with_scale_offset(imgs, bp.band_props_df(spark))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan