"""Skew handling: adaptive salted join correctness + balance under a
Zipfian hot key (the north rule's footprint-density scenario)."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from geedim_spark.operators import spatial_join as sj


@pytest.fixture(scope="module")
def skewed(spark):
    """90 % of the big side lands on ONE cell (pathological hot key)."""
    big = spark.range(5000).select(
        F.col("id").alias("row_id"),
        F.when(F.col("id") % 10 < 9, F.lit(42)).otherwise(F.col("id") % 100)
        .cast("long").alias("cell"),
    )
    small = spark.range(100).select(
        F.col("id").cast("long").alias("cell"),
        F.concat(F.lit("roi-"), F.col("id")).alias("roi_id"),
    )
    return big, small


def test_adaptive_salted_join_correct_and_differentiated(spark, skewed):
    big, small = skewed
    plain = sorted(
        map(tuple, big.join(small, "cell").select("row_id", "roi_id").collect())
    )
    adaptive = sorted(
        map(tuple,
            sj.adaptive_salted_join(big, small, "cell", rows_per_task=500)
            .select("row_id", "roi_id").collect())
    )
    assert adaptive == plain
    # the hot key (4500 rows) gets ceil(4500/500)=9 salt buckets; a tail key
    # (~56 rows) gets exactly 1 (zero replication)
    from pyspark.sql import functions as F
    factors = (
        big.groupBy("cell").agg(F.count(F.lit(1)).alias("c"))
        .select("cell", F.least(F.lit(256), F.greatest(
            F.lit(1), F.ceil(F.col("c") / F.lit(500)))).alias("n"))
    )
    fmap = {r["cell"]: r["n"] for r in factors.collect()}
    assert fmap[42] == 9
    assert all(v == 1 for k, v in fmap.items() if k != 42)


def test_salting_splits_hot_key_across_partitions(spark, skewed):
    """The hot key's rows spread over ~salt distinct shuffle keys."""
    big, _ = skewed
    salted_keys = (
        big.withColumn("_salt", F.pmod(F.xxhash64(*big.columns), F.lit(16)))
        .where(F.col("cell") == 42)
        .select("_salt").distinct().count()
    )
    assert salted_keys == 16  # hot cell now hashes to 16 distinct join keys

def test_q_skew_join_equals_plain_join(spark):
    """The driver query's salted plan returns exactly the plain join's
    aggregate (the oracle independently recomputes it in DuckDB; this is
    the in-repo twin at test scale)."""
    import __spark_entry__ as entrymod

    big, dim = entrymod._skew_tables(spark, "/root/testdata/sf0.01")
    plain = (
        big.join(dim, "cell").groupBy("cell")
        .agg(F.count(F.lit(1)).cast("long").alias("n_rows"),
             F.sum(F.col("v") * F.col("weight")).cast("long").alias("wsum"))
    )
    salted = entrymod.q_skew_join(spark, "/root/testdata/sf0.01")
    assert sorted(map(tuple, salted.collect())) == sorted(
        map(tuple, plain.collect())
    )
    # the hot cell (30 % of rows) must actually split: its count-derived
    # salt factor is > 1 at rows_per_task=1000
    n_hot = big.filter("cell = 0").count()
    assert n_hot / 1000 > 1
