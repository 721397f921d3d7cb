"""Catalyst twins of the LSH Arrow kernels in
``geedim_spark.operators.similarity``: the float-plane and
integer-quantised sign-bit bucket folds, and the all-Catalyst bucketed
top-k plan they rank with."""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from geedim_spark.operators.similarity import (_as_double, _rank_topk, dot,
                                               norm, quantise, sims_with)


def lsh_bucket(emb_col: Column, planes: np.ndarray) -> Column:
    """Sign-bit bucket id from hyperplane projections — pure Catalyst:
    one fold per plane, OR-ed into an int."""
    bucket = F.lit(0).cast("long")
    for i, plane in enumerate(planes):
        proj = dot(emb_col, F.array(*[F.lit(float(v)) for v in plane]))
        bucket = bucket + F.when(proj > 0, F.lit(1 << i)).otherwise(F.lit(0))
    return bucket


def lsh_bucket_quantised(emb_col: Column, planes: np.ndarray) -> Column:
    """Sign-bit bucket over integer-quantised embeddings x integer planes.

    Every term is exact int64 arithmetic (|q| <= 4096*|x|, dims ~64, plane
    values in [-5,5] -> |proj| << 2^53), so the sign — hence the bucket —
    is identical across Spark / DuckDB / numpy, unlike float hyperplanes
    whose near-zero projections can flip on summation-order differences."""
    q = quantise(emb_col)
    bucket = F.lit(0).cast("long")
    for i, plane in enumerate(planes):
        proj = F.aggregate(
            F.zip_with(
                q,
                F.array(*[F.lit(int(v)).cast("long") for v in plane]),
                lambda x, y: x * y,
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        bucket = bucket + F.when(proj > 0, F.lit(1 << i)).otherwise(F.lit(0))
    return bucket


def _bucket_topk(
    embeddings: DataFrame, bucket_fn, n_queries: int, k: int
) -> DataFrame:
    """Shared LSH plan: bucket every vector, broadcast the query rows, rank
    exact cosine within same-bucket candidates."""
    emb = embeddings.select(
        "vec_id", _as_double(F.col("embedding")).alias("e")
    ).withColumn("bucket", bucket_fn(F.col("e"))) \
     .withColumn("nrm", norm(F.col("e")))
    q = emb.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("e").alias("qe"),
        F.col("bucket").alias("qbucket"), F.col("nrm").alias("qnrm"),
    )
    pairs = emb.join(
        F.broadcast(q),
        (F.col("bucket") == F.col("qbucket")) & (F.col("vec_id") != F.col("query_id")),
    )
    return _rank_topk(sims_with(pairs), k)
