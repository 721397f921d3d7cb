"""Watermarked stream-stream join — the funnel/attribution operator.

Joins two live event streams (e.g. views to the purchases that follow
within an hour) with Structured Streaming's stream-stream inner join:
both sides carry an event-time watermark and the join condition carries
a time-range bound, which together let Spark EVICT buffered rows — the
left buffer holds only rows newer than (right watermark - within), so
state is bounded on an unbounded stream.  Inner-join matches are emitted
as soon as both sides arrive (append mode; no watermark wait for inner
joins), making the drained availableNow result equal to the batch
interval join — that equality is the correctness oracle.

No reference analog (geedim is batch-only) — engine capability, same
tier as the windows/sessions/stateful-dedup block.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from geedim_spark.streaming.windows import EVENTS_SCHEMA


def stream_event_join(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    left_type: str = "view",
    right_type: str = "purchase",
    within: str = "1 hour",
    watermark: str = "90 days",
    sink_table: str = "stream_event_join",
):
    """Start the stream-stream join (availableNow) writing matched pairs
    to an in-memory sink table; returns the StreamingQuery.

    Emits one row per (left event, right event by the same user with
    left_ts < right_ts <= left_ts + within):
    (user_id, l_id, r_id, l_ts, r_ts).

    ``watermark`` bounds how late either side may arrive AND how much
    buffer state Spark retains; the drain-everything default (longer
    than the table's span) gives exact batch parity on availableNow
    replays, where micro-batches are not time-ordered.  On a live stream
    set it to the real lateness budget — state then stays
    O(rate x (watermark + within)) per side.
    """
    def _src():
        return (
            spark.readStream.schema(EVENTS_SCHEMA)
            .option("maxFilesPerTrigger", 2)
            .parquet(source_dir)
            # watermarks need TIMESTAMP (not NTZ); session tz is UTC so
            # the cast is value-preserving
            .withColumn("ts", F.col("ts").cast("timestamp"))
        )

    left = (
        _src().filter(F.col("event_type") == left_type)
        .select(
            F.col("event_id").alias("l_id"),
            F.col("user_id").alias("user_id"),
            F.col("ts").alias("l_ts"),
        )
        .withWatermark("l_ts", watermark)
    )
    right = (
        _src().filter(F.col("event_type") == right_type)
        .select(
            F.col("event_id").alias("r_id"),
            F.col("user_id").alias("r_user"),
            F.col("ts").alias("r_ts"),
        )
        .withWatermark("r_ts", watermark)
    )
    joined = left.join(
        right,
        (F.col("user_id") == F.col("r_user"))
        & (F.col("r_ts") > F.col("l_ts"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr(f"INTERVAL {within}")),
        "inner",
    ).select("user_id", "l_id", "r_id", "l_ts", "r_ts")
    return (
        joined.writeStream.outputMode("append")
        .format("memory").queryName(sink_table)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
