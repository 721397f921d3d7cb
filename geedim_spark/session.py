"""SparkSession factory with the engine's tuned defaults.

The reference bounds its throughput with hand-rolled admission control
(semaphores, retry loops — /root/reference/geedim/tile.py:110-191).  On Spark
the equivalents are executor cores, task retries and AQE; we pin the configs
that matter for the tile workload here so every entrypoint (tests, bench,
__spark_entry__) gets the same plan environment.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Arrow batch size bounds per-batch memory in pixel UDFs the same way the
# reference bounds tile size to 4 MB (tile.py:111); see the inline note on
# maxRecordsPerBatch below for the actual sizing math.
_DEFAULTS = {
    # AQE: runtime coalescing + skew-join splitting (north rule requires
    # explicit skew handling; spatial_join.adaptive_salted_join's
    # count-sized salting is the belt, AQE is the braces).
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # Coalesce to the TARGET SIZE, not the core count: with the default
    # parallelismFirst=true AQE refuses to merge post-shuffle partitions
    # below defaultParallelism, so every small shuffle still launched
    # 32-64 tasks of pure scheduling overhead.  false is the setting the
    # Spark SQL performance-tuning docs themselves recommend ("respect
    # the configured target size").  Measured: 52-query bench section
    # 83.4 s -> 63.5 s with no query slower (BENCH/BASELINE.md r6 log).
    "spark.sql.adaptive.coalescePartitions.parallelismFirst": "false",
    # Advisory target, env-tunable.  16m local default: a 64m advisory
    # folded the skew bench's ~600 MB salted shuffle into ~10 partitions
    # and cost the salted join its width (salted 4.4 s @16m vs 10.6 s
    # @64m; tiny shuffles coalesce to a handful of tasks either way).
    # A multi-node production deployment wants the guide §2.2 100 MB-1 GB
    # band — set SPARK_GRAFT_ADVISORY_PARTITION=128m (or higher) there;
    # the per-NODE width math that makes 16m right for one 32-core box
    # does not change the plan, only the post-shuffle partition count.
    "spark.sql.adaptive.advisoryPartitionSizeInBytes":
        os.environ.get("SPARK_GRAFT_ADVISORY_PARTITION", "16m"),
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.shuffle.partitions": "64",
    # Arrow transport for all pandas UDFs / mapInPandas / applyInPandas.
    # Batch size is set for BLOB rows: 128 rows x ~150 kB image ~ 19 MB per
    # in-flight batch.  At 2048 (the original value) 32 concurrent tasks
    # each buffering ~300 MB of Arrow data overwhelmed an 8 GB heap —
    # local[32] ran 3.5x SLOWER than local[4] purely from GC thrash; the
    # round-2 sweep (64/128/256 x task.cpus 1/2/4 at sf0.1) put the
    # throughput peak at 128 rows with task.cpus=2 (72k tiles/s vs 45k at
    # 256x4 and 17k at 64x1).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "128",
    # Broadcast joins for small dims (ROIs, band_props, score images at test
    # scale).  64 MB: at 100 TB the ROI/cell tables stay << this.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Keep parquet splits near the reference's 4 MB tile default * 32 tasks.
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    "spark.sql.session.timeZone": "UTC",
    # pinned explicitly: a stopped session's conf lingers in JVM system
    # properties, so a later narrow session (e.g. the scaling block's
    # local[1]) would otherwise inherit a wide session's task.cpus=2 and
    # refuse to start ("cores per executor (=1) has to be >= cpus per
    # task").  extra_conf still overrides per-session.
    "spark.task.cpus": "1",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    # quieter logs
    "spark.ui.enabled": "false",
}


def get_session(
    app_name: str = "geedim_spark",
    master: str | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (all cores).  Pass
    ``local[8]`` / ``local[32]`` explicitly for the N vs 4N scaling runs.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = SparkSession.builder.appName(app_name).master(master or f"local[{cpus}]")
    conf = dict(_DEFAULTS)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
