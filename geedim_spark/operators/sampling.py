"""Deterministic content-hash sampling — the data-mixing primitive.

A 100 TB training-data pipeline needs REPRODUCIBLE sampling: Spark's
seeded ``df.sample`` is a per-partition Bernoulli over the physical
layout, so the selected rows change whenever files are rewritten,
compacted or repartitioned — a re-run of "mix 30% of source A with 10%
of source B" silently selects different documents.  Hashing the row KEY
instead makes membership a pure function of content:

    selected  <=>  md5(key || salt) mod M  <  fraction * M

- stable across engines (md5 is the portable hash used throughout this
  repo — the DuckDB oracle reproduces the exact row set);
- stable across layout, partitioning and cluster size;
- disjoint/nested samples via the salt: the same fraction with a
  different salt draws an independent subset, and fraction f1 < f2 with
  one salt gives strictly NESTED samples (grow a dataset without
  re-drawing it — the property data-mixing sweeps rely on);
- no shuffle, no state: one codegen'd projection + filter.

No reference analog (geedim has no sampling surface) — engine capability
for the training-data pipeline, same tier as the dedup/ANN block.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# modulus for the hash bucket: 1e6 gives micro-fraction resolution while
# 6 hex digits (24 bits > 1e6 buckets... use 8 digits = 32 bits) stay
# exactly representable in int64 in both engines
_M = 1_000_000


def hash_bucket(key: Column, salt: str = "") -> Column:
    """Deterministic bucket in [0, 1e6) from md5(key || salt) — the
    portable membership hash (first 8 hex digits -> int, mod 1e6).

    NULL keys coalesce to a sentinel before hashing (the same
    convention as the dedup shingles / stream_dedup NULL-text paths):
    without it md5(concat(NULL, salt)) is NULL, the ``< threshold``
    predicate is NULL, and NULL-keyed rows silently vanish even at
    fraction=1.0 — breaking the "fraction of the table" contract."""
    key_s = F.coalesce(key.cast("string"), F.lit("\x00null"))
    return (
        F.conv(
            F.substring(F.md5(F.concat(key_s, F.lit(salt))), 1, 8),
            16, 10,
        ).cast("long") % F.lit(_M)
    )


def stratified_sample(
    df: DataFrame,
    key_col: str,
    strata_col: str,
    fractions: dict[str, float],
    default_fraction: float = 0.0,
    salt: str = "",
) -> DataFrame:
    """Per-stratum deterministic sampling — the data-mixing operator:
    ``fractions`` maps stratum values (e.g. language, source) to keep
    rates; strata absent from the map keep ``default_fraction``.  The
    whole predicate is one codegen'd CASE expression over the hash
    bucket: zero shuffle, zero UDF, layout-independent membership."""
    for k, f in fractions.items():
        if not 0.0 <= f <= 1.0:
            raise ValueError(f"fraction for {k!r} must be in [0, 1] (got {f})")
    if not 0.0 <= default_fraction <= 1.0:
        raise ValueError(
            f"default_fraction must be in [0, 1] (got {default_fraction})"
        )
    thresh = F.lit(int(round(default_fraction * _M)))
    expr = None
    for k, f in sorted(fractions.items()):
        cond = F.col(strata_col) == F.lit(k)
        val = F.lit(int(round(f * _M)))
        expr = F.when(cond, val) if expr is None else expr.when(cond, val)
    thresh = thresh if expr is None else expr.otherwise(thresh)
    return df.where(hash_bucket(F.col(key_col), salt) < thresh)


def epoch_shuffle(
    df: DataFrame,
    key_col: str,
    epoch: int,
    n_shards: int,
    salt: str = "shuffle-v1",
) -> DataFrame:
    """Deterministic epoch-seeded training order WITHOUT a global sort:
    every row gets (shard, epoch_rank) where the global traversal order
    (shard, epoch_rank) is a pseudorandom permutation that changes with
    ``epoch`` and reproduces exactly across runs/layouts/engines —
    membership and order are pure functions of (key, epoch, salt).

    Scale shape: shard from one half of md5(key||epoch||salt), order key
    from the OTHER half (decorrelated), rank via a window PARTITIONED BY
    shard — each shard sorts independently (the per-task unit a training
    reader consumes), so no single-partition global sort exists anywhere.
    Pick n_shards >= cluster cores; each shard's sort is ~N/n_shards rows.
    """
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    key_s = F.coalesce(F.col(key_col).cast("string"), F.lit("\x00null"))
    h = F.md5(F.concat(key_s, F.lit(f":{int(epoch)}:{salt}")))
    shard = (
        F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % F.lit(n_shards)
    )
    order_key = F.conv(F.substring(h, 9, 8), 16, 10).cast("long")
    from pyspark.sql.window import Window

    w = Window.partitionBy("shard").orderBy("_order", key_col)
    return (
        df.withColumn("shard", shard)
        .withColumn("_order", order_key)
        .withColumn(
            "epoch_rank",
            F.row_number().over(w).cast("long"),
        )
        .drop("_order")
    )
