"""Watermarked event-time windowed aggregation over a streamed table.

Demonstrates the Structured Streaming half of the engine on the events
stream: file source -> ``withWatermark`` (late-data bound) -> tumbling
event-time window counts -> sink.  With ``availableNow`` the drained result
must equal the equivalent batch aggregation (tested); on a live stream the
watermark drops events later than the bound, finalising windows
incrementally with state bounded by (watermark / window) windows.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

EVENTS_SCHEMA = (
    "event_id long, ts timestamp_ntz, user_id long, event_type string, "
    "value double, props string"
)


def stream_windowed_counts(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    window: str = "1 day",
    watermark: str = "1 hour",
    sink_table: str = "stream_window_counts",
    output_mode: str = "update",
):
    """Start the stream (availableNow) writing windowed counts to an
    in-memory sink table; returns the StreamingQuery.

    ``output_mode``: 'update' (default) lets the watermark EVICT window
    state — the production setting for a continuous stream (each window row
    is re-emitted as it grows; readers take the latest/max per window).
    'complete' re-emits the full result per batch and makes the watermark
    inert for eviction (Spark must retain every window) — fine for bounded
    availableNow drains, unbounded state growth on a live stream."""
    src = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 2)
        .parquet(source_dir)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    agg = (
        src.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n")
    )
    return (
        agg.writeStream.outputMode(output_mode)
        .format("memory").queryName(sink_table)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_session_counts(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    gap: str = "30 minutes",
    watermark: str = "90 days",
    sink_table: str = "stream_session_counts",
):
    """Native session windows on a stream (F.session_window + watermark),
    drained with availableNow in COMPLETE mode; returns the StreamingQuery.

    Session-window aggregations reject update mode (sessions MERGE, so an
    update emission can supersede rows with different keys); complete mode
    re-emits the whole result per batch and the memory sink REPLACES its
    contents, so at drain the sink holds exactly the final merged sessions.
    On a live unbounded stream complete mode retains all state — there,
    use append mode with a real watermark and accept that only
    watermark-finalised sessions are emitted.
    """
    src = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 2)
        .parquet(source_dir)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    agg = (
        src.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .select(
            "user_id", F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"), "n",
        )
    )
    return (
        agg.writeStream.outputMode("complete")
        .format("memory").queryName(sink_table)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
