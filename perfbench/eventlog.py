"""Fold Spark's event log into per-stage and per-job-group records.

The traced session writes an uncompressed event log (``TRACE_CONF`` in
harness.py).  Every step of the traced run is tagged with
``SparkContext.setJobGroup``; this module reads the log once the session
has stopped and sums each task's metrics into its stage and its job group.
A task-end event is read exactly once, so each value is recorded once per
action.
"""

from __future__ import annotations

import glob
import json
import os

# task accumulables -> record fields (values summed over tasks)
_SUMS = {
    "internal.metrics.executorRunTime": "run_ms",
    "internal.metrics.executorCpuTime": "cpu_ns",
    "internal.metrics.jvmGCTime": "gc_ms",
    "internal.metrics.input.bytesRead": "input_bytes",
    "internal.metrics.input.recordsRead": "input_records",
    "internal.metrics.output.bytesWritten": "output_bytes",
    "internal.metrics.output.recordsWritten": "output_records",
    "internal.metrics.shuffle.read.remoteBytesRead": "shuffle_read_bytes",
    "internal.metrics.shuffle.read.localBytesRead": "shuffle_read_bytes",
    "internal.metrics.shuffle.read.fetchWaitTime": "fetch_wait_ms",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_write_bytes",
    "internal.metrics.memoryBytesSpilled": "spill_memory_bytes",
    "internal.metrics.diskBytesSpilled": "spill_disk_bytes",
    "data sent to Python workers": "python_sent_bytes",
    "data returned from Python workers": "python_returned_bytes",
}
_MAX = {"internal.metrics.peakExecutionMemory": "peak_execution_memory_bytes"}
# SQL metrics the driver posts once per execution (scan and write nodes)
_DRIVER = {
    "size of files read": "files_read_bytes",
    "number of files read": "files_read",
    "written output": "written_bytes",
    "number of written files": "written_files",
}
FIELDS = sorted(set(_SUMS.values()) | set(_MAX.values()) | set(_DRIVER.values()))


def _events(log_dir: str):
    files = sorted(
        glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True)
        + glob.glob(os.path.join(log_dir, "local-*"))
    )
    if not files:
        raise FileNotFoundError(f"no event log under {log_dir}")
    for path in files:
        with open(path) as f:
            for line in f:
                yield json.loads(line)


def _blank() -> dict:
    rec = {k: 0 for k in FIELDS}
    rec.update(tasks=0, failed_tasks=0, task_ms=[])
    return rec


def _add_task(rec: dict, info: dict) -> None:
    rec["tasks"] += 1
    rec["failed_tasks"] += int(bool(info.get("Failed")))
    rec["task_ms"].append(info["Finish Time"] - info["Launch Time"])
    for acc in info.get("Accumulables", ()):
        name = acc.get("Name")
        try:
            value = int(acc.get("Update", 0))
        except (TypeError, ValueError):
            continue
        if name in _SUMS:
            rec[_SUMS[name]] += value
        elif name in _MAX:
            rec[_MAX[name]] = max(rec[_MAX[name]], value)


def _plan_metrics(node: dict, out: dict) -> None:
    """accumulator id -> field, for the driver-posted SQL metrics of one
    physical plan tree."""
    for m in node.get("metrics", ()):
        if m.get("name") in _DRIVER:
            out[m["accumulatorId"]] = _DRIVER[m["name"]]
    for child in node.get("children", ()):
        _plan_metrics(child, out)


def _median(xs: list[int]) -> float:
    s = sorted(xs)
    n = len(s)
    return 0.0 if n == 0 else (s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2)


def fold(log_dir: str) -> dict:
    """-> {"stages": {stage_id: rec}, "groups": {group: rec}}.

    A stage record carries its job group, task count, summed task metrics,
    and max/median task time; a group record sums its stages and adds its
    job count, stage count and ``plan_ms``: for each SQL execution, the
    time from execution start to its first job's submission."""
    job_group: dict[int, str] = {}
    job_exec: dict[int, str] = {}
    job_submit: dict[int, int] = {}
    stage_job: dict[int, int] = {}
    sql_start: dict[str, int] = {}
    stages: dict[int, dict] = {}
    acc_field: dict[int, str] = {}
    driver_updates: dict[str, dict] = {}  # execution id -> field -> value
    for ev in _events(log_dir):
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            props = ev.get("Properties") or {}
            job_group[jid] = props.get("spark.jobGroup.id") or "untagged"
            job_exec[jid] = props.get("spark.sql.execution.id")
            job_submit[jid] = ev.get("Submission Time", 0)
            for sid in ev.get("Stage IDs", ()):
                stage_job.setdefault(sid, jid)
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            sql_start[str(ev["executionId"])] = ev["time"]
            _plan_metrics(ev.get("sparkPlanInfo") or {}, acc_field)
        elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
            _plan_metrics(ev.get("sparkPlanInfo") or {}, acc_field)
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            upd = driver_updates.setdefault(str(ev["executionId"]), {})
            for acc_id, value in ev.get("accumUpdates", ()):
                field = acc_field.get(acc_id)
                if field:
                    upd[field] = upd.get(field, 0) + int(value)
        elif kind == "SparkListenerTaskEnd":
            sid = ev["Stage ID"]
            rec = stages.setdefault(sid, _blank())
            info = dict(ev["Task Info"])
            _add_task(rec, info)

    groups: dict[str, dict] = {}
    for sid, rec in stages.items():
        jid = stage_job.get(sid)
        g = job_group.get(jid, "untagged")
        rec["group"] = g
        rec["task_max_ms"] = max(rec["task_ms"], default=0)
        rec["task_median_ms"] = _median(rec["task_ms"])
        grp = groups.setdefault(g, _blank() | {"stages": 0, "jobs": 0,
                                               "plan_ms": 0})
        grp["stages"] += 1
        grp["tasks"] += rec["tasks"]
        grp["failed_tasks"] += rec["failed_tasks"]
        for k in FIELDS:
            if k in _MAX.values():
                grp[k] = max(grp[k], rec[k])
            else:
                grp[k] += rec[k]
    first_job: dict[str, int] = {}
    for jid, g in job_group.items():
        grp = groups.setdefault(g, _blank() | {"stages": 0, "jobs": 0,
                                               "plan_ms": 0})
        grp["jobs"] += 1
        ex = job_exec.get(jid)
        if ex is not None and ex in sql_start:
            key = f"{g}\0{ex}"
            first_job[key] = min(first_job.get(key, job_submit[jid]),
                                 job_submit[jid])
    for key, t in first_job.items():
        g, ex = key.split("\0")
        groups[g]["plan_ms"] += max(0, t - sql_start[ex])
        for field, value in driver_updates.get(ex, {}).items():
            groups[g][field] += value
    for grp in groups.values():
        grp.pop("task_ms")
    for rec in stages.values():
        rec.pop("task_ms")
    return {"stages": stages, "groups": groups}


def total(folded: dict, prefix: str) -> dict:
    """Sum of the group records whose name starts with ``prefix``."""
    out = _blank() | {"stages": 0, "jobs": 0, "plan_ms": 0}
    out.pop("task_ms")
    for g, rec in folded["groups"].items():
        if not g.startswith(prefix):
            continue
        for k, v in rec.items():
            if k in _MAX.values():
                out[k] = max(out[k], v)
            else:
                out[k] += v
    return out
