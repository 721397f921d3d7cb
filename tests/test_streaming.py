"""Streaming ingest: availableNow drain -> snapshot commits -> resume."""

from __future__ import annotations

import glob
import os
import shutil

import pytest

from geedim_spark import synth
from geedim_spark.sources import snapshots
from geedim_spark.streaming import ingest
from tests.reference import streaming as ref_streaming


def test_stream_windowed_counts_match_batch(spark, tmp_path):
    """availableNow drain of the watermarked windowed agg == batch agg."""
    from geedim_spark.streaming import windows as sw

    src = str(tmp_path / "events_src")
    ckpt = str(tmp_path / "wckpt")
    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    events.coalesce(4).write.parquet(src)

    q = sw.stream_windowed_counts(spark, src, ckpt, sink_table="swc_test")
    q.awaitTermination(180)
    # update mode re-emits a window row each time it grows; the final
    # (max) emission per key is the drained total
    got = {}
    for r in spark.table("swc_test").collect():
        k = (r["window_start"], r["event_type"])
        got[k] = max(got.get(k, 0), r["n"])
    want = {
        (r["window_start"], r["event_type"]): r["n"]
        for r in ref_streaming.windowed_counts_batch(events).collect()
    }
    assert got == want and len(want) > 5


def test_stateful_stream_dedup(spark, tmp_path):
    """applyInPandasWithState dedup: one output row per distinct text, even
    with planted duplicates split across micro-batches."""
    from pyspark.sql import functions as F
    from geedim_spark.streaming import stateful

    src = str(tmp_path / "docs_src")
    ckpt = str(tmp_path / "dckpt")
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    dups = docs.limit(20).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        "text", "lang", "source", "n_chars",
    )
    # 4 files -> 2 micro-batches at maxFilesPerTrigger=2; dups in later files
    docs.coalesce(2).write.parquet(src)
    dups.coalesce(2).write.mode("append").parquet(src)

    q = stateful.stream_dedup(spark, src, ckpt, sink_table="sdd_test")
    q.awaitTermination(180)
    out = spark.table("sdd_test")
    n_distinct = docs.select(F.md5(F.coalesce("text", F.lit("")))).distinct().count()
    assert out.count() == n_distinct
    assert out.select("text_hash").distinct().count() == n_distinct


def test_stream_ingest_commits_snapshots(spark, tmp_path):
    source = str(tmp_path / "incoming")
    table = str(tmp_path / "stats_table")
    ckpt = str(tmp_path / "ckpt")

    synth.images_df(spark, 30).coalesce(3).write.parquet(source)

    q = ingest.stream_mask_stats(spark, source, table, ckpt, available_now=True)
    q.awaitTermination(180)

    snap = snapshots.current_snapshot(table)
    assert snap is not None
    back = snapshots.read_snapshot(spark, table)
    # every raw image got stats committed
    n_raw = synth.images_df(spark, 30).filter("fmt = 'raw'").count()
    assert back.count() == n_raw
    assert back.groupBy().sum("total_px").first()[0] == n_raw * 40 * 40

    # restart with same checkpoint: no new files -> no new rows (resume)
    q2 = ingest.stream_mask_stats(spark, source, table, ckpt, available_now=True)
    q2.awaitTermination(120)
    assert snapshots.read_snapshot(spark, table).count() == n_raw


def test_stream_ingest_multi_batch_append(spark, tmp_path):
    """Regression: collections interleave across micro-batches — per-batch
    overwrite commits repointed each collection partition at only the LAST
    batch's rows.  With append commits the drained snapshot holds every
    ingested image."""
    source = str(tmp_path / "incoming_mb")
    table = str(tmp_path / "stats_mb")
    ckpt = str(tmp_path / "ckpt_mb")

    synth.images_df(spark, 60).coalesce(6).write.parquet(source)
    # 6 files / maxFilesPerTrigger=4 -> at least 2 micro-batches
    q = ingest.stream_mask_stats(spark, source, table, ckpt, available_now=True)
    q.awaitTermination(180)

    n_raw = synth.images_df(spark, 60).filter("fmt = 'raw'").count()
    back = snapshots.read_snapshot(spark, table)
    assert back.count() == n_raw
    assert back.select("image_id").distinct().count() == n_raw


def test_stream_ingest_keeps_duplicate_rows(spark, tmp_path):
    """A source dir holding one parquet file twice commits each image's
    stats row twice, with the row's own collection: the stats are not
    joined back onto the batch on image_id."""
    source = str(tmp_path / "incoming_dup")
    table = str(tmp_path / "stats_dup")
    synth.images_df(spark, 12).coalesce(1).write.parquet(source)
    (part,) = glob.glob(os.path.join(source, "part-*.parquet"))
    shutil.copy(part, os.path.join(source, "copy-" + os.path.basename(part)))

    q = ingest.stream_mask_stats(spark, source, table, str(tmp_path / "ckpt_dup"),
                                 available_now=True)
    q.awaitTermination(180)

    raw = synth.images_df(spark, 12).filter("fmt = 'raw'")
    want = sorted((r["image_id"], r["collection"]) for r in raw.collect()) * 2
    got = snapshots.read_snapshot(spark, table).select("image_id", "collection")
    assert sorted(tuple(r) for r in got.collect()) == sorted(want)


def test_stream_session_windows_match_batch(spark, tmp_path):
    """Drained complete-mode session windows == the batch gap rule
    (>= gap opens a new session, matching F.session_window merge)."""
    from pyspark.sql import functions as F
    from geedim_spark.streaming import windows as sw

    src = str(tmp_path / "sess_src")
    ckpt = str(tmp_path / "sckpt")
    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    events.coalesce(4).write.parquet(src)

    q = sw.stream_session_counts(spark, src, ckpt, gap="30 minutes",
                                 watermark="90 days", sink_table="ssc_test")
    assert q.awaitTermination(180)
    got = {
        (r["user_id"], r["session_start"]): r["n"]
        for r in spark.table("ssc_test").collect()
    }
    ev = events.withColumn("ts", F.col("ts").cast("timestamp"))
    want = {
        (r["user_id"], r["w"]["start"]): r["n"]
        for r in ev.groupBy(
            F.session_window("ts", "30 minutes").alias("w"), "user_id"
        ).agg(F.count(F.lit(1)).cast("long").alias("n")).collect()
    }
    assert got == want and len(want) > 10


def test_stream_dedup_ttl_evicts_expired_state(spark, tmp_path):
    """TTL-bounded stateful dedup: within the TTL duplicates are dropped;
    once a hash's last-seen falls outside the TTL it is evicted and the
    document re-emits on its next occurrence — the bounded-state contract
    an unbounded 100 TB stream needs (NoTimeout state grows forever)."""
    import time as _time

    from pyspark.sql import functions as F

    from geedim_spark.streaming import stateful

    # pure eviction logic
    seen = {"a": 1000, "b": 5000, "c": 9000}
    assert stateful._evict_expired(seen, now_ms=10000, ttl_ms=4000) == {
        "c": 9000,
    }
    # boundary: last-seen exactly at the floor survives (>=)
    assert stateful._evict_expired(seen, now_ms=10000, ttl_ms=5000) == {
        "b": 5000, "c": 9000,
    }
    assert stateful._evict_expired(seen, now_ms=10000, ttl_ms=100) == {}

    # integration: drain, wait past the TTL, append the SAME docs, drain
    # from the SAME checkpoint (parquet sink — the memory sink cannot
    # recover from a checkpoint)
    src = str(tmp_path / "ttl_src")
    ckpt = str(tmp_path / "ttl_ckpt")
    out = str(tmp_path / "ttl_out")
    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet").limit(40)
    docs.coalesce(1).write.parquet(src)
    q = stateful.stream_dedup(
        spark, src, ckpt, ttl_minutes=0.5 / 60, sink_dir=out,  # 0.5 s TTL
    )
    q.awaitTermination(180)
    n_distinct = docs.select(
        F.md5(F.coalesce("text", F.lit("")))).distinct().count()
    assert spark.read.parquet(out).count() == n_distinct

    _time.sleep(1.5)  # > TTL: every state entry expires
    docs.select((F.col("doc_id") + 500_000).alias("doc_id"), "text",
                "lang", "source", "n_chars") \
        .coalesce(1).write.mode("append").parquet(src)
    q = stateful.stream_dedup(
        spark, src, ckpt, ttl_minutes=0.5 / 60, sink_dir=out,
    )
    q.awaitTermination(180)
    # the replayed docs re-emit: expired hashes no longer count as seen
    assert spark.read.parquet(out).count() == 2 * n_distinct


def test_stream_dedup_ttl_large_matches_unbounded(spark, tmp_path):
    """With a TTL far larger than the run, the TTL form must equal the
    unbounded NoTimeout form exactly."""
    from pyspark.sql import functions as F

    from geedim_spark.streaming import stateful

    src = str(tmp_path / "ttl_eq_src")
    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet").limit(60)
    dups = docs.limit(15).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        "text", "lang", "source", "n_chars",
    )
    docs.coalesce(2).write.parquet(src)
    dups.coalesce(2).write.mode("append").parquet(src)

    q = stateful.stream_dedup(
        spark, src, str(tmp_path / "ck_a"), sink_table="sdd_eq_ttl",
        ttl_minutes=60,
    )
    q.awaitTermination(180)
    q = stateful.stream_dedup(
        spark, src, str(tmp_path / "ck_b"), sink_table="sdd_eq_plain",
    )
    q.awaitTermination(180)
    a = {(r["doc_id"], r["text_hash"])
         for r in spark.table("sdd_eq_ttl").collect()}
    b = {(r["doc_id"], r["text_hash"])
         for r in spark.table("sdd_eq_plain").collect()}
    assert a == b and len(a) > 0


def test_stream_static_score_join_matches_batch(spark, tmp_path):
    """Stream-STATIC join: streaming image micro-batches broadcast-joined
    against a static Cloud Score+ table; drained commits must equal the
    batch s2_score_mask_stats output exactly (incl. the no-match
    fully-masked default), and a checkpointed restart re-commits
    nothing (idempotent tokens)."""
    from geedim_spark.operators import masks

    source = str(tmp_path / "incoming_sj")
    table = str(tmp_path / "score_table")
    ckpt = str(tmp_path / "ckpt_sj")

    imgs = synth.images_df(spark, 30)
    imgs.coalesce(3).write.parquet(source)
    scores = synth.scores_df(spark, 30)

    q = ingest.stream_score_join_stats(
        spark, source, scores, table, ckpt, available_now=True)
    q.awaitTermination(180)

    back = snapshots.read_snapshot(spark, table)
    raw = synth.images_df(spark, 30).filter("fmt = 'raw'")
    want = {r["image_id"]: r for r in
            masks.s2_score_mask_stats(raw, scores).collect()}
    got = {r["image_id"]: r for r in back.collect()}
    assert set(got) == set(want)
    for iid in want:
        assert got[iid]["cloudless_px"] == want[iid]["cloudless_px"], iid
        assert got[iid]["fill_px"] == want[iid]["fill_px"], iid

    # restart on the same checkpoint: nothing new to commit
    sid_before = snapshots.current_snapshot(table)["snapshot_id"]
    q2 = ingest.stream_score_join_stats(
        spark, source, scores, table, ckpt, available_now=True)
    q2.awaitTermination(180)
    assert snapshots.current_snapshot(table)["snapshot_id"] == sid_before


def test_stream_stream_join_matches_batch(spark, tmp_path):
    """availableNow drain of the watermarked stream-stream inner join ==
    the batch interval join, pair-for-pair (micro-batch replay is not
    time-ordered, so equality proves buffering on BOTH sides works)."""
    from geedim_spark.streaming import joins as sj

    src = str(tmp_path / "ssj_src")
    ckpt = str(tmp_path / "ssj_ckpt")
    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    events.coalesce(4).write.parquet(src)

    q = sj.stream_event_join(
        spark, src, ckpt, left_type="view", right_type="click",
        within="2 hours", sink_table="ssj_test")
    assert q.awaitTermination(180)
    got = sorted(map(tuple, spark.table("ssj_test").collect()))
    want = sorted(map(tuple, ref_streaming.event_join_batch(
        events, left_type="view", right_type="click",
        within="2 hours").collect()))
    assert got == want and len(want) > 0
    # the time bound is real: every pair is strictly ordered and inside it
    for _, _, _, l_ts, r_ts in got:
        assert l_ts < r_ts <= l_ts + __import__("datetime").timedelta(hours=2)


def test_stream_near_dup_matches_batch_lsh(spark, tmp_path):
    """Drained streaming MinHash-LSH pairs, counted per pair, equal the
    batch minhash_lsh_pairs output value-for-value — bucket state
    accumulates correctly across micro-batches."""
    from pyspark.sql import functions as F

    from geedim_spark.operators import dedup
    from geedim_spark.streaming import neardup as snd

    src = str(tmp_path / "nd_src")
    ckpt = str(tmp_path / "nd_ckpt")
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    docs.coalesce(4).write.parquet(src)

    q = snd.stream_near_dup(spark, src, ckpt, sink_table="snd_test")
    assert q.awaitTermination(180)
    got = sorted(map(tuple, (
        spark.table("snd_test").groupBy("doc_id_a", "doc_id_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared_bands"))
        .collect())))
    want = sorted(map(tuple, dedup.minhash_lsh_pairs(docs).collect()))
    assert got == want and len(want) > 0


def test_stream_near_dup_bucket_cap_suppresses_overflow(spark, tmp_path):
    """A bucket exceeding max_bucket_size within a batch suppresses that
    batch's pairs and freezes the bucket (prospective cap — the streaming
    analogue of the batch retroactive drop); validation rejects cap < 2."""
    import pandas as pd

    from geedim_spark.streaming import neardup as snd

    src = str(tmp_path / "cap_src")
    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": range(5), "text": ["same boilerplate text here"] * 5,
        "lang": ["en"] * 5, "source": ["s"] * 5, "n_chars": [26] * 5,
    }))
    docs.coalesce(1).write.parquet(src)
    q = snd.stream_near_dup(
        spark, src, str(tmp_path / "cap_ckpt"), max_bucket_size=3,
        sink_table="snd_cap_test")
    assert q.awaitTermination(180)
    assert spark.table("snd_cap_test").count() == 0  # overflowed in-batch
    with pytest.raises(ValueError, match="max_bucket_size"):
        snd.stream_near_dup(spark, src, str(tmp_path / "x"),
                            max_bucket_size=1)
