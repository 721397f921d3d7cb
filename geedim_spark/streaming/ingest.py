"""Streaming ingestion: images parquet dir -> mask stats -> snapshot commits.

Shape: ``readStream`` (file source, schema pinned) -> ``foreachBatch`` where
each micro-batch runs the batch mask pipeline and commits one snapshot.  The
manifest layer (sources/snapshots.py) makes restarts idempotent per
partition; Spark's checkpointLocation makes the *source* offsets resumable —
together: a killed ingest resumes at the next unprocessed file and re-commits
only uncommitted partitions.

Watermarks/session windows are N/A to the reference's semantics (batch
export); the sessionisation analytic lives in __spark_entry__ as a window
query and could be lifted onto this stream with ``withWatermark`` untouched.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from geedim_spark.kernels import map_rows
from geedim_spark.operators import masks
from geedim_spark.sources import snapshots

IMAGES_SCHEMA = (
    "i long, image_id string, collection string, w int, h int, fmt string, "
    "v int, f_px int, c_px int, x0 double, y0 double, x1 double, y1 double, "
    "caption string, time_start timestamp, bytes binary, phash long"
)


def _ingest(spark, source_dir, checkpoint_dir, available_now, commit):
    """Stream ``source_dir``'s image files, run ``commit(raw_rows, batch_id)``
    on each micro-batch holding raw rows and return the StreamingQuery.
    foreachBatch re-runs the source scan for every action on a batch: the
    one-row emptiness probe, then the commit's one-read snapshot write."""
    def _batch(batch_df: DataFrame, batch_id: int) -> None:
        raw = batch_df.filter("fmt = 'raw'")
        if not raw.isEmpty():
            commit(raw, batch_id)

    src = (
        spark.readStream.schema(IMAGES_SCHEMA)
        .option("maxFilesPerTrigger", 4)
        .parquet(source_dir)
    )
    writer = (
        src.writeStream.foreachBatch(_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_mask_stats(
    spark: SparkSession,
    source_dir: str,
    table_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Start the ingest stream; returns the StreamingQuery.

    ``available_now=True`` drains everything currently in ``source_dir`` and
    stops — the test/CI mode; pass False for a continuous ingest.
    Per-batch progress is on the returned query (``recentProgress``).
    """
    def _commit(raw: DataFrame, batch_id: int) -> None:
        # mask_stats' counts led by the row's collection: the partition
        # key rides on the stats row, no join back on image_id
        stats = map_rows(
            masks._with_time_start(raw), masks._IMAGE_COLS, masks._STATS_SCHEMA,
            lambda *values: [masks.mask_stats_row(*values)], keep=["collection"],
        )
        # append: collections interleave across micro-batches — an
        # overwrite commit would repoint each collection partition at
        # ONLY this batch's rows, discarding earlier batches
        # token = (stream identity, batch id): the checkpoint dir is
        # stable across restarts of THIS stream but distinct between
        # streams, so two streams ingesting one table can never
        # mistake each other's batch N for a replay
        snapshots.write_snapshot(
            stats, table_dir, "collection",
            stats_cols=("fill_px",), mode="append",
            commit_token=f"{os.path.abspath(checkpoint_dir)}:batch-{batch_id}",
        )

    return _ingest(spark, source_dir, checkpoint_dir, available_now, _commit)


def stream_score_join_stats(
    spark: SparkSession,
    source_dir: str,
    scores: DataFrame,
    table_dir: str,
    checkpoint_dir: str,
    score_thresh: float = 0.6,
    available_now: bool = True,
):
    """Stream-STATIC join ingest: streaming image micro-batches joined
    against a static (broadcast) Cloud Score+ match table, per-image
    score-mask stats committed per batch — the reference's match-image
    join (mask.py:287 linkCollection) lifted onto Structured Streaming.

    Shape: the static side is a plain DataFrame — Spark re-plans the
    broadcast join per micro-batch with no state store (stream-static
    joins are stateless by definition), so arbitrarily long streams run
    at constant memory.  Unmatched streaming rows keep the reference's
    fully-masked default (VALID=false -> CLOUDLESS 0), exactly as the
    batch operator; drained output == the batch s2_score_mask_stats
    closed form, which is how the test pins it.

    Returns the StreamingQuery.
    """
    def _commit(raw: DataFrame, batch_id: int) -> None:
        stats = masks.s2_score_mask_stats(raw, scores, score_thresh=score_thresh)
        snapshots.write_snapshot(
            stats, table_dir, "image_id",
            stats_cols=("cloudless_px",), mode="append",
            commit_token=(
                f"{os.path.abspath(checkpoint_dir)}:score-batch-{batch_id}"
            ),
        )

    return _ingest(spark, source_dir, checkpoint_dir, available_now, _commit)
