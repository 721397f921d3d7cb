"""Streaming near-duplicate detection — MinHash LSH over a live stream.

The batch form (operators/dedup.minhash_lsh_pairs) buckets banded MinHash
signatures and self-joins the buckets.  A stream cannot self-join its own
past, so the bucket becomes STATE: ``applyInPandasWithState`` keyed by
(band, bhash) keeps each bucket's member ids across micro-batches and
emits a candidate pair the moment a new document lands in a bucket with
existing members.  Signatures and band hashes are the exact batch
expressions (dedup.minhash_sig_df / dedup.banded_sigs), so the drained
availableNow output aggregated per pair EQUALS the batch LSH join —
that equality is the correctness oracle.

Bucket cap semantics differ from batch by necessity: batch drops an
oversized bucket RETROACTIVELY (no pair from it survives); a stream
cannot retract emitted rows, so a bucket that exceeds ``max_bucket_size``
stops emitting from then on (pairs already out stay out) and its state
freezes at the cap.  Same bound on state and output volume, prospective
instead of retrospective — callers needing batch-identical caps re-run
the batch operator over the drained corpus.

State per bucket is O(members) ids, capped; the key space is ~N*bands
distinct (band, bhash) buckets — the standard keyed-state scale shape.
No reference analog (geedim is batch-only).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from geedim_spark.kernels import install_zip_cache_guard
from geedim_spark.operators import dedup
from geedim_spark.streaming.stateful import DOCS_SCHEMA

_OUT_SCHEMA = "doc_id_a long, doc_id_b long"
_STATE_SCHEMA = "ids array<long>, overflow boolean"


def _near_dup_fn(max_bucket_size: int):
    def fn(key, pdfs, state: GroupState):
        # a global reference: unpickling it imports geedim_spark in the worker
        install_zip_cache_guard()
        if state.exists:
            ids, overflow = list(state.get[0]), bool(state.get[1])
        else:
            ids, overflow = [], False
        seen = set(ids)
        # one deterministic order across partition layouts / replays
        pdf = pd.concat(list(pdfs), ignore_index=True).sort_values("doc_id")
        out = []
        for did in pdf["doc_id"]:
            did = int(did)
            if overflow or did in seen:
                continue
            out.append([(min(p, did), max(p, did)) for p in ids])
            ids.append(did)
            seen.add(did)
            if len(ids) > max_bucket_size:
                overflow = True
        state.update((sorted(ids), overflow))
        flat = [p for chunk in out for p in chunk] if not overflow else []
        # on the batch that overflows, suppress that batch's pairs too —
        # the bucket is boilerplate, not signal (earlier batches' pairs
        # are already emitted and stay; see module docstring)
        yield pd.DataFrame(flat, columns=["doc_id_a", "doc_id_b"])
    return fn


def stream_near_dup(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    n_hashes: int = 16,
    bands: int = 4,
    n: int = 5,
    max_bucket_size: int = 10000,
    sink_table: str = "stream_near_dup_out",
):
    """Start the streaming near-dup detector (availableNow); returns the
    StreamingQuery.  Sink rows are one (doc_id_a < doc_id_b) candidate
    pair per shared band-bucket — count rows per pair downstream to get
    the batch operator's n_shared_bands."""
    if max_bucket_size < 2:
        raise ValueError(
            f"max_bucket_size must be >= 2, got {max_bucket_size}")
    dedup._check_n_hashes(n_hashes, bands)
    src = (
        spark.readStream.schema(DOCS_SCHEMA)
        .option("maxFilesPerTrigger", 2)
        .parquet(source_dir)
    )
    sigs = dedup.minhash_sig_df(src, n_hashes, n)
    banded = dedup.banded_sigs(sigs, n_hashes, bands)
    pairs = banded.groupBy("band", "bhash").applyInPandasWithState(
        _near_dup_fn(max_bucket_size),
        outputStructType=_OUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return (
        pairs.writeStream.outputMode("append")
        .format("memory").queryName(sink_table)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
