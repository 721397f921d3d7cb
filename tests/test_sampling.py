"""Deterministic content-hash sampling (operators/sampling.py): the
data-mixing primitive — membership is a pure function of (key, salt)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from geedim_spark.operators import sampling

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "lang")


def _ids(df):
    return {r["doc_id"] for r in df.select("doc_id").collect()}


def _sample(df, key_col, fraction, salt=""):
    """The plain sampler: one fraction for every row (no strata)."""
    return sampling.stratified_sample(df, key_col, key_col, {},
                                      default_fraction=fraction, salt=salt)


def test_deterministic_and_layout_independent(spark, docs):
    a = _ids(_sample(docs, "doc_id", 0.3, salt="s"))
    b = _ids(_sample(
        docs.repartition(7), "doc_id", 0.3, salt="s"))
    assert a == b and 0 < len(a) < docs.count()
    # roughly the requested rate (hash uniformity)
    assert abs(len(a) / docs.count() - 0.3) < 0.1


def test_nested_for_growing_fractions(spark, docs):
    small = _ids(_sample(docs, "doc_id", 0.1, salt="s"))
    big = _ids(_sample(docs, "doc_id", 0.4, salt="s"))
    assert small <= big  # strictly nested at a fixed salt


def test_salts_draw_independent_subsets(spark, docs):
    a = _ids(_sample(docs, "doc_id", 0.5, salt="a"))
    b = _ids(_sample(docs, "doc_id", 0.5, salt="b"))
    assert a != b  # different salt -> different draw
    n = docs.count()
    # independence: overlap ~ f^2, far from either identical or disjoint
    assert 0.1 < len(a & b) / n < 0.4


def test_stratified_matches_per_stratum_rule(spark, docs):
    out = sampling.stratified_sample(
        docs, "doc_id", "lang", {"en": 1.0, "de": 0.0},
        default_fraction=0.5, salt="x",
    )
    langs = {r["lang"]: r["n"] for r in out.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    totals = {r["lang"]: r["n"] for r in docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    assert langs.get("en") == totals.get("en")   # keep all
    assert "de" not in langs                     # drop all
    for lg, n in langs.items():
        if lg not in ("en", "de"):
            assert 0 < n < totals[lg]            # ~half

    # edge fractions on the plain sampler
    assert _ids(_sample(docs, "doc_id", 0.0)) == set()
    assert _ids(_sample(
        docs, "doc_id", 1.0)) == _ids(docs)


def test_fraction_validation():
    import pandas as pd
    with pytest.raises(ValueError, match="fraction"):
        _sample(None, "k", 1.5)
    with pytest.raises(ValueError, match="fraction"):
        sampling.stratified_sample(None, "k", "s", {"a": -0.1})
    with pytest.raises(ValueError, match="default_fraction"):
        sampling.stratified_sample(None, "k", "s", {}, default_fraction=2)


def test_null_keys_are_kept_not_silently_dropped(spark):
    """NULL keys hash via a sentinel: fraction=1.0 keeps the WHOLE table
    (the 'fraction of the table' contract), and NULL-keyed rows get a
    deterministic draw at intermediate fractions."""
    import pandas as pd

    from geedim_spark.operators import sampling

    df = spark.createDataFrame(pd.DataFrame({
        "k": pd.array([None, "a", "b", None], dtype="string"),
        "v": [0, 1, 2, 3],
    }))
    assert _sample(df, "k", 1.0).count() == 4
    assert _sample(df, "k", 0.0).count() == 0
    # both NULL rows share one draw (same sentinel) — either both in or
    # both out at any fraction
    for frac in (0.25, 0.5, 0.75):
        got = _sample(df, "k", frac)
        n_null = got.where("k IS NULL").count()
        assert n_null in (0, 2)


def test_epoch_shuffle_is_a_permutation_per_shard(spark, docs):
    out = sampling.epoch_shuffle(docs.select("doc_id"), "doc_id",
                                 epoch=0, n_shards=4)
    rows = out.collect()
    assert len(rows) == docs.count()
    by_shard = {}
    for r in rows:
        by_shard.setdefault(r["shard"], []).append(r["epoch_rank"])
    assert set(by_shard) <= set(range(4)) and len(by_shard) > 1
    for ranks in by_shard.values():  # dense 1..n per shard
        assert sorted(ranks) == list(range(1, len(ranks) + 1))


def test_epoch_shuffle_deterministic_and_epoch_sensitive(spark, docs):
    ids = docs.select("doc_id")

    def order(epoch):
        return tuple(
            (r["shard"], r["epoch_rank"], r["doc_id"])
            for r in sampling.epoch_shuffle(ids, "doc_id", epoch, 4)
            .orderBy("shard", "epoch_rank").collect())

    a, b = order(1), order(1)
    assert a == b  # reproducible run-to-run
    assert order(1) != order(2)  # epoch reshuffles
    # layout-independent: repartitioned input, identical assignment
    rep = sampling.epoch_shuffle(ids.repartition(13), "doc_id", 1, 4)
    assert tuple((r["shard"], r["epoch_rank"], r["doc_id"]) for r in
                 rep.orderBy("shard", "epoch_rank").collect()) == a


def test_epoch_shuffle_no_global_sort(spark, docs):
    """Every window is PARTITIONED BY shard — no single-partition funnel."""
    out = sampling.epoch_shuffle(docs.select("doc_id"), "doc_id", 0, 8)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "shard#" in plan
    import re
    # the Window operator must carry a partition spec (non-empty list)
    m = re.search(r"Window \[[^\]]*\], \[([^\]]*)\]", plan)
    assert m is None or m.group(1).strip() != ""
    with pytest.raises(ValueError, match="n_shards"):
        sampling.epoch_shuffle(docs, "doc_id", 0, 0)
