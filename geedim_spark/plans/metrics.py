"""Pipeline metrics via Spark accumulators + per-partition lineage.

North-rule requirement: "per-partition lineage + row-count/mask-coverage
metrics emitted via Spark accumulators and a custom listener".  Three
cooperating pieces:

- **accumulators** (this module) incremented inside the Arrow mask kernels
  (rows decoded, pixels, fill/cloudless pixel totals) — live, visible
  mid-job;
- **custom listener** (streaming/listener.py): a pure-Python
  ``StreamingQueryListener`` appending per-batch row counts, durations and
  source offsets to a JSONL lineage log for the ingest path.  (A JVM-side
  ``SparkListener`` for batch jobs would need the py4j callback server —
  fragile under local-mode tests — so batch lineage uses the pieces below.)
- **lineage records** written per partition at snapshot-commit time
  (sources/snapshots.py stats) plus stage wall-times from the driver-side
  status tracker after each action (``emit_lineage``).

The reference's analog is tqdm progress callbacks + the export task monitor
poll loop (utils.py tqdm helpers; image.py:480-505).
"""

from __future__ import annotations

import json
import time

from pyspark.sql import DataFrame, SparkSession

from geedim_spark.kernels import map_rows
from geedim_spark.operators import masks


class PipelineMetrics:
    """Named accumulators for the mask/tile pipeline.

    CAVEAT (Spark accumulator semantics): updates fire inside a
    TRANSFORMATION (the Arrow kernel), so they are re-applied on EVERY action
    over the same plan and on stage retries / speculative tasks — Spark
    only deduplicates accumulator updates inside actions.  Run exactly one
    action over the instrumented frame per Metrics instance (or diff
    snapshots around a single action); for exactly-once per-query metrics
    prefer ``df.observe`` on a Catalyst aggregate."""

    def __init__(self, spark: SparkSession):
        sc = spark.sparkContext
        self.images = sc.accumulator(0)
        self.pixels = sc.accumulator(0)
        self.fill_px = sc.accumulator(0)
        self.cloudless_px = sc.accumulator(0)

    def snapshot(self) -> dict:
        return {
            "images": self.images.value,
            "pixels": self.pixels.value,
            "fill_px": self.fill_px.value,
            "cloudless_px": self.cloudless_px.value,
            "fill_coverage": (self.fill_px.value / self.pixels.value)
            if self.pixels.value else None,
        }


def mask_stats_with_metrics(
    images: DataFrame, metrics: PipelineMetrics, **mask_opts
) -> DataFrame:
    """masks.mask_stats + accumulator side-channel: the same per-row
    function (so the same bestEffort-decimated counts and schema), with
    each row's counts added to ``metrics``."""
    def _row(image_id, buf, coll, ts):
        row = masks.mask_stats_row(image_id, buf, coll, ts, **mask_opts)
        _, total_px, fill_px, _, _, cloudless_px = row
        metrics.images.add(1)
        metrics.pixels.add(total_px)
        metrics.fill_px.add(fill_px)
        metrics.cloudless_px.add(cloudless_px)
        yield row

    return map_rows(
        masks._with_time_start(images), masks._IMAGE_COLS,
        masks._STATS_SCHEMA, _row,
    )


def emit_lineage(spark: SparkSession, path: str, job: str, extra: dict | None = None):
    """Append a lineage record (stage wall info from the status tracker)."""
    st = spark.sparkContext.statusTracker()
    rec = {
        "job": job,
        "ts": time.time(),
        "active_jobs": len(st.getActiveJobsIds()),
        "executors": spark.sparkContext.defaultParallelism,
    }
    rec.update(extra or {})
    with open(path, "a") as f:
        f.write(json.dumps(rec, default=str) + "\n")
