#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics, and tracing overhead.

    python3 perfbench/spread.py --workload queries_sf0.1 --seeds 1-10
    python3 perfbench/spread.py --workload store_serving --seeds 1-5 --traced

Runs the benchmark once per seed (the seconds from BENCHMARK.json) and
prints, per end-to-end metric, the median and the spread: the distance
between the first and third quartile (``statistics.quantiles(n=4)``) as
a share of the median, beside a third of the metric's bound. With
``--traced`` it also makes a traced run on the first seed and reports
the tracing overhead: traced minus untraced end-to-end figures.
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


def _seeds(text: str) -> list[int]:
    out: list[int] = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def run_once(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict, dict, float]:
    t0 = time.perf_counter()
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=900)
    wall = time.perf_counter() - t0
    if proc.returncode != 0:
        raise SystemExit(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-3000:]}")
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-1]), json.loads(lines[-2])["detail"], wall


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--traced", action="store_true")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    seconds = spec["run_seconds"]

    values: dict[str, list[float]] = {m["name"]: [] for m in spec["end_to_end"]}
    walls, failures, by_seed = [], 0, {}
    for seed in _seeds(args.seeds):
        res, detail, wall = run_once(args.workload, seed, seconds, 0)
        walls.append(wall)
        failures += res["failed"]
        by_seed[seed] = detail["end_to_end"]
        for name in values:
            values[name].append(res["metrics"][name]["value"])
        print(f"seed {seed}: wall {wall:.1f}s failed {res['failed']}/{res['attempted']} "
              + " ".join(f"{k}={v[-1]:.4g}" for k, v in values.items()), flush=True)

    summary: dict = {"workload": args.workload, "runs": len(walls), "failed": failures,
                     "run_wall_s": {"median": statistics.median(walls), "max": max(walls)},
                     "metrics": {}}
    for m in spec["end_to_end"]:
        xs = values[m["name"]]
        med = statistics.median(xs)
        q1, _, q3 = statistics.quantiles(xs, n=4) if len(xs) > 1 else (med, med, med)
        summary["metrics"][m["name"]] = {
            "median": med, "spread": (q3 - q1) / med, "bound": m["bound"],
            "third_of_bound": m["bound"] / 3, "values": xs}
    if args.traced:
        seed = _seeds(args.seeds)[0]
        _, detail, wall = run_once(args.workload, seed, seconds, 1)
        summary["tracing_overhead"] = {
            "seed": seed, "run_wall_s": wall,
            **{k: detail["end_to_end"][k] - v for k, v in by_seed[seed].items()},
            **{k: detail[k] for k in ("tracing_overhead_s", "split_gap_median",
                                      "split_gap_max") if k in detail}}
    print(json.dumps(summary, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
