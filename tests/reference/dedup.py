"""Catalyst twin of the MinHash signature kernel
(``geedim_spark.operators.dedup.minhash_sig_df``): one permutation-min
expression tree per hash over the Catalyst shingle set."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from geedim_spark.operators.dedup import (_A, _B, _P, _check_n_hashes,
                                          shingle_hash, shingles)


def minhash_signature(text: Column, n_hashes: int = 16, n: int = 5) -> Column:
    """array<long> of n_hashes permutation minima over the shingle set."""
    _check_n_hashes(n_hashes)
    hashes = F.transform(shingles(text, n), lambda s: shingle_hash(s) % F.lit(_P))

    def _perm_fn(a: int, b: int):
        # PySpark lambda introspection fills ALL parameters with Columns, so
        # capture the coefficients via a closure, not default args.
        def fn(h):
            return (F.lit(a) * h + F.lit(b)) % F.lit(_P)
        return fn

    sig = [
        F.array_min(F.transform(hashes, _perm_fn(_A[i], _B[i])))
        for i in range(n_hashes)
    ]
    return F.array(*sig)
