#!/usr/bin/env python3
"""Run the benchmark on several seeds per workload and report, for every
end-to-end metric, the median, the quartiles and the quartile spread as a
share of the median -- the steadiness test each metric's bound is held to.

    python3 perfbench/prove.py --runs 10 [--workload NAME ...] [--first-seed 100]
    python3 perfbench/prove.py --runs 10 --record   # also write the baseline

Each run is a separate ``perfbench/run.py`` process with its own seed.
``--record`` writes each workload's medians and quartiles into
``perfbench/plan.json`` under ``baseline.<workload>``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.time()
    proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                          stderr=subprocess.DEVNULL, text=True, timeout=180)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"{workload} seed {seed}: exit {proc.returncode}")
    res = json.loads(lines[-1])
    res["wall_s"] = time.time() - t0
    return res


def summarise(values: list[float]) -> dict:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return {"median": q2, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / q2 if q2 else float("inf"), "n": len(values)}


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--workload", nargs="*",
                   default=[w["name"] for w in spec["workloads"]])
    p.add_argument("--first-seed", type=int, default=100)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--record", action="store_true")
    args = p.parse_args()
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    table = {}
    for wl in args.workload:
        results = [run(wl, args.first_seed + i, spec["run_seconds"], args.trace)
                   for i in range(args.runs)]
        walls = [r["wall_s"] for r in results]
        print(f"{wl}: wall per run median {statistics.median(walls):.1f} s, "
              f"max {max(walls):.1f} s; failed "
              f"{sum(r['failed'] for r in results)}/"
              f"{sum(r['attempted'] for r in results)}", flush=True)
        table[wl] = {}
        for name in results[0]["metrics"]:
            s = summarise([r["metrics"][name]["value"] for r in results])
            s["unit"] = results[0]["metrics"][name]["unit"]
            table[wl][name] = s
            bound = bounds.get(name)
            flag = ""
            if bound is not None and name != "setup_s":
                flag = "ok" if s["spread"] < bound / 3 else (
                    "within bound" if s["spread"] <= bound else "TOO WIDE")
            print(f"  {name:34s} median {s['median']:12.5g} {s['unit']:6s} "
                  f"q1 {s['q1']:12.5g} q3 {s['q3']:12.5g} "
                  f"spread {s['spread']:.4f} {flag}", flush=True)
    if args.record:
        path = os.path.join(HERE, "plan.json")
        with open(path) as f:
            plan = json.load(f)
        base = plan.setdefault("baseline", {})
        for wl, metrics in table.items():
            base[wl] = {
                "runs": args.runs,
                "seeds": f"{args.first_seed}..{args.first_seed + args.runs - 1}",
                "recorded": time.strftime("%Y-%m-%d"),
                "metrics": metrics,
            }
        with open(path, "w") as f:
            json.dump(plan, f, indent=2)
            f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
