"""Batch twins of the streaming operators in ``geedim_spark.streaming``:
the plain DataFrame plans a drained stream must equal."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def windowed_counts_batch(events: DataFrame, window: str = "1 day") -> DataFrame:
    """Batch twin of ``windows.stream_windowed_counts``."""
    # watermarks require TIMESTAMP (not NTZ); session tz is UTC so the cast
    # is value-preserving — mirror it here for parity
    events = events.withColumn("ts", F.col("ts").cast("timestamp"))
    return (
        events.groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .select(
            F.col("w.start").alias("window_start"), "event_type", "n",
        )
    )


def event_join_batch(events, left_type="view", right_type="purchase",
                     within: str = "1 hour"):
    """Batch twin of ``joins.stream_event_join`` (same join, one shuffle on
    user_id) — what the drained stream must equal."""
    ev = events.withColumn("ts", F.col("ts").cast("timestamp"))
    left = ev.filter(F.col("event_type") == left_type).select(
        F.col("event_id").alias("l_id"), "user_id",
        F.col("ts").alias("l_ts"))
    right = ev.filter(F.col("event_type") == right_type).select(
        F.col("event_id").alias("r_id"),
        F.col("user_id").alias("r_user"), F.col("ts").alias("r_ts"))
    return left.join(
        right,
        (F.col("user_id") == F.col("r_user"))
        & (F.col("r_ts") > F.col("l_ts"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr(f"INTERVAL {within}")),
        "inner",
    ).select("user_id", "l_id", "r_id", "l_ts", "r_ts")
