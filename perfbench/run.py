#!/usr/bin/env python3
"""Benchmark of the geedim_spark engine: two seeded workloads, run from the
root of a checkout.

    python3 perfbench/run.py --workload tile_export --seed 1 --seconds 12 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 12 --trace 0

``--trace 0`` measures the end-to-end metrics with tracing off; ``--trace 1``
is a separate traced run (Spark event log, prefix runs, driver
micro-timing) that reports the per-layer metrics and the tracing overhead.
Metric names and units come from ``BENCHMARK.json``.  The last line of
standard output is one JSON object with the keys ``correct``, ``attempted``,
``failed`` and ``metrics``; the exit code is 0 only when every checked
output was right.

``--record-digests`` re-records ``perfbench/expected/tile_digests.json``,
the per-image tile digests that tile_export's output is checked against;
run it only at a commit whose export output is trusted.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
NAMES = ("tile_export", "catalog_queries")

SETUP_REPS = 3     # set-ups per run; setup_s is their median
MIN_UNITS = 3      # timed units per run, at the least
TRACE_REPS = 2     # traced repetitions of each step
WALL_LIMIT_S = 110  # stop adding timed units past this much process time


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _prepare(wl):
    """Launch the JVM, stage the inputs (cached, untimed) and evaluate the
    expected outputs."""
    import harness

    spark = harness.open_session(wl.SESSION_CONF)
    wl.stage(spark)
    wl.expect()
    return spark


def _setup(harness, wl, spark, k: int, extra: dict | None = None):
    """One set-up: a fresh session, input registration and one warm-up run
    (its output checks excluded).  The first set-up (k == 0) and a traced
    one also start a new SparkContext; later ones open a new session on the
    running context, as a client reconnecting to a warm engine does.
    -> (session, seconds, warm-up requests)."""
    if k == 0 or extra:
        spark.stop()
        t0 = time.perf_counter()
        spark = harness.open_session(wl.SESSION_CONF | (extra or {}))
    else:
        t0 = time.perf_counter()
        spark = spark.newSession()
    wl.register(spark)
    reqs = wl.warm_up(spark, k)
    secs = time.perf_counter() - t0 - sum(q.check_s for q in reqs)
    return spark, secs, reqs


def end_to_end(wl, seconds: float, t_start: float):
    import harness

    outcome = harness.Outcome()
    spark = _prepare(wl)
    setups = []
    for k in range(SETUP_REPS):
        spark, secs, reqs = _setup(harness, wl, spark, k)
        setups.append(secs)
        for q in reqs:
            outcome.record(q.ok, q.reason)
    # checked but untimed: unit times settle only after a session's first runs
    warm_s = []
    for k in range(wl.warm_units):
        reqs, _ = wl.unit(spark, k, tag=f"prime-{k}")
        warm_s.append(sum(q.seconds for q in reqs))
        for q in reqs:
            outcome.record(q.ok, q.reason)
    unit_s, latencies, work, check_s = [], [], 0, 0.0
    k = 0
    while (k < MIN_UNITS or sum(unit_s) < seconds
           or len(latencies) < wl.min_requests):
        if k >= MIN_UNITS and time.perf_counter() - t_start > WALL_LIMIT_S:
            break
        reqs, work = wl.unit(spark, k)
        unit_s.append(sum(q.seconds for q in reqs))
        latencies += [q.seconds for q in reqs]
        check_s += sum(q.check_s for q in reqs)
        for q in reqs:
            outcome.record(q.ok, q.reason)
        k += 1
    harness.shutdown(spark)
    run_s = harness.median(unit_s)
    tail, pct = harness.tail(latencies)
    metrics = {
        "setup_s": harness.median(setups),
        "run_s": run_s,
        "throughput": work / run_s,
        "request_p50_s": harness.median(latencies),
        "request_tail_s": tail,
    }
    detail = {"setups_s": setups, "warm_units_s": warm_s, "units_s": unit_s,
              "latencies_s": latencies,
              "tail_percentile": pct, "work_per_unit": work, "check_s": check_s,
              "work_unit": wl.work_unit, "staging_s": wl.staging_s}
    return metrics, outcome, detail


def traced(wl, host):
    import eventlog
    import harness

    outcome = harness.Outcome()
    spark = _prepare(wl)
    log_dir = os.path.join(harness.work_dir("eventlog"), f"{wl.name}-{wl.seed}")
    harness.remove_tree(log_dir)
    os.makedirs(log_dir)
    spark, _, reqs = _setup(harness, wl, spark, 0, harness.trace_conf(log_dir))
    spark, _, more = _setup(harness, wl, spark, 1)
    for q in reqs + more:
        outcome.record(q.ok, q.reason)
    with harness.RssSampler(harness.jvm_pid(spark)) as rss:
        secs, counts = wl.trace(spark, TRACE_REPS)
    for q in wl.trace_requests:
        outcome.record(q.ok, q.reason)
    # untraced reference for the overhead, after the same two set-ups; it
    # runs later in the same JVM, so a warmer JIT biases the overhead up
    for k in range(2):
        spark, _, reqs = _setup(harness, wl, spark, k)
        for q in reqs:
            outcome.record(q.ok, q.reason)
    ref = []
    for k in range(TRACE_REPS):
        reqs, _ = wl.unit(spark, k)
        ref.append(sum(q.seconds for q in reqs))
        for q in reqs:
            outcome.record(q.ok, q.reason)
    harness.shutdown(spark)
    folded = eventlog.fold(log_dir)
    reps = TRACE_REPS
    n_req = reps * wl.requests_per_unit
    run = eventlog.total(folded, "run")
    reading = [s for s in folded["stages"].values()
               if s["group"].startswith("run") and s["shuffle_read_bytes"] > 0]
    host_info = host.finish()
    metrics = {
        "driver.plan_s": run["plan_ms"] / 1e3 / n_req,
        "driver.jobs": run["jobs"] / n_req,
        "driver.stages": run["stages"] / n_req,
        "driver.tasks": run["tasks"] / n_req,
        "shuffle.write_bytes": run["shuffle_write_bytes"] / reps,
        "shuffle.read_bytes": run["shuffle_read_bytes"] / reps,
        "shuffle.fetch_wait_s": run["fetch_wait_ms"] / 1e3 / reps,
        "shuffle.spill_bytes":
            (run["spill_memory_bytes"] + run["spill_disk_bytes"]) / reps,
        "shuffle.partitions": sum(s["tasks"] for s in reading) / reps,
        "arrow.bytes_to_python": run["python_sent_bytes"] / reps,
        "arrow.bytes_from_python": run["python_returned_bytes"] / reps,
        "jvm.gc_s": run["gc_ms"] / 1e3 / reps,
        "jvm.gc_share": run["gc_ms"] / max(1, run["run_ms"]),
        "jvm.peak_execution_memory_bytes": run["peak_execution_memory_bytes"],
        "host.steal_share": host_info["steal_share"],
        "host.loadavg": host_info["loadavg_end"],
        "host.probe_s": host_info["probe_s"],
        "trace.run_s": harness.median(secs),
        "trace.overhead_s": harness.median(secs) - harness.median(ref),
        "peak_rss_mb": rss.peak / 2 ** 20,
    }
    metrics.update(wl.layers(folded, counts, reps))
    if run["failed_tasks"]:
        outcome.record(False, f"{run['failed_tasks']} failed task attempts")
    detail = {"untraced_units_s": ref, "traced_units_s": secs,
              "ledger": folded, "staging_s": wl.staging_s}
    return metrics, outcome, detail


def run_one(args) -> int:
    t_start = time.perf_counter()
    sys.path.insert(0, ROOT)
    try:
        import harness
        harness.prepare_env()
        import workloads
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    spec = _spec()
    if args.record_digests:
        spark = harness.open_session()
        print(workloads.record_tile_digests(spark))
        harness.shutdown(spark)
        return 0
    host = harness.HostRecord()
    wl = workloads.WORKLOADS[args.workload](args.seed)
    if args.trace:
        values, outcome, detail = traced(wl, host)
        wanted = spec["per_layer"]
    else:
        values, outcome, detail = end_to_end(wl, args.seconds, t_start)
        wanted = spec["end_to_end"]
    host_info = host.finish()
    metrics = {}
    for m in wanted:
        if m["name"] not in values and not args.trace:
            raise KeyError(f"end-to-end metric {m['name']} was not measured")
        # per-layer metrics of layers this workload does not exercise read 0
        metrics[m["name"]] = {"value": float(values.get(m["name"], 0.0)),
                              "unit": m["unit"]}
    result = {"correct": outcome.failed == 0, "attempted": outcome.attempted,
              "failed": outcome.failed, "metrics": metrics}
    harness.write_record(
        f"{wl.name}-seed{args.seed}-trace{args.trace}",
        {"args": vars(args), "host": host_info, "result": result,
         "failures": outcome.reasons, "detail": detail,
         "confs": harness.bench_conf() | wl.SESSION_CONF})
    for reason in outcome.reasons:
        print(f"perfbench: FAILED {reason}", file=sys.stderr)
    print(f"# {wl.name} seed={args.seed} trace={args.trace} "
          f"nproc={host_info['nproc']} loadavg={host_info['loadavg_end']:.2f} "
          f"steal={host_info['steal_share']:.4f} probe_s={host_info['probe_s']:.3f} "
          f"source={host_info['source']}")
    for name, m in metrics.items():
        print(f"{wl.name:16s} {name:36s} {m['value']:>16.6g} {m['unit']}")
    print(f"{wl.name:16s} {'failed_ratio':36s} "
          f"{outcome.failed / max(1, outcome.attempted):>16.6g} ratio")
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


def run_all(args) -> int:
    """Every workload, each in its own process (a fresh JVM and session)."""
    merged = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    code = 0
    for name in NAMES:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        lines = proc.stdout.strip().splitlines()
        print("\n".join(lines[:-1]), flush=True)
        if proc.returncode not in (0, 1) or not lines:
            return proc.returncode or 3
        res = json.loads(lines[-1])
        code = max(code, proc.returncode)
        merged["correct"] &= res["correct"]
        merged["attempted"] += res["attempted"]
        merged["failed"] += res["failed"]
        for k, v in res["metrics"].items():
            merged["metrics"][f"{name}.{k}"] = v
    print(json.dumps(merged))
    return code


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", choices=NAMES + ("all",), default="all")
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=12)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--record-digests", action="store_true")
    args = p.parse_args(argv)
    if args.workload == "all" and not args.record_digests:
        return run_all(args)
    try:
        return run_one(args)
    except Exception:
        traceback.print_exc()
        return 3


if __name__ == "__main__":
    sys.exit(main())
