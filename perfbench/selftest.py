#!/usr/bin/env python3
"""Self-test of the benchmark at tiny scale (sf0.001 tables, 200 bronze
payments, a 50-document store).

    python3 perfbench/selftest.py

For every workload in BENCHMARK.json it checks that an untraced run
prints every end-to-end metric and a traced run every per-layer metric,
each with its unit, and that nothing failed. On the query workload the
median traced query's build + plan + execution, as Spark measured the
last two, must come within 5% of its wall. It then runs each workload
once, traced, with deliberately wrong expectations (``--inject-fault``)
and requires every check to report its failure: the query oracle, the
store-versus-lake comparison and the lake build's row counts. Last it
runs the benchmark in a directory without the package, where it must
exit with an error. Exits 1 on any problem.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RESULT_KEYS = {"correct", "attempted", "failed", "metrics"}
# per workload: each check an injected fault must trip, and the text its
# failure message carries
INJECTED = {
    "queries_sf0.1": [("query oracle", "differs from its oracle")],
    "store_serving": [("store vs lake", "store answer != lake answer"),
                      ("lake build rows", "lake build: silver")],
}


def _run(cwd: str, workload: str, trace: int, *extra: str) -> subprocess.CompletedProcess:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
           "--seconds", "2", "--trace", str(trace), "--scale", "tiny", *extra]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=300)


def _result(proc: subprocess.CompletedProcess) -> tuple[dict, dict]:
    if proc.returncode != 0:
        raise RuntimeError(f"exit {proc.returncode}: {proc.stderr[-2000:]}")
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-1]), json.loads(lines[-2])["detail"]


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    problems: list[str] = []
    zero_everywhere = {m["name"] for m in spec["per_layer"]}

    for wl in (w["name"] for w in spec["workloads"]):
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            try:
                res, detail = _result(_run(ROOT, wl, trace))
            except RuntimeError as exc:
                problems.append(f"{wl} trace={trace}: {exc}")
                continue
            if set(res) != RESULT_KEYS:
                problems.append(f"{wl}: result keys {sorted(res)}")
            if res["failed"] or not res["correct"] or res["attempted"] < 1:
                problems.append(f"{wl} trace={trace}: failed {res['failed']}/"
                                f"{res['attempted']}: {detail.get('messages')}")
            for m in spec[key]:
                got = res["metrics"].get(m["name"])
                if got is None or got.get("unit") != m["unit"]:
                    problems.append(f"{wl}: metric {m['name']} missing or unit {got}")
                elif trace == 0 and not got["value"] > 0:
                    problems.append(f"{wl}: end-to-end {m['name']} = {got['value']}")
                elif got["value"]:
                    zero_everywhere.discard(m["name"])
            gap = detail.get("split_gap_median")
            if trace and gap is not None:
                print(f"    build+plan+exec short of the query wall by {gap:.3f} (median), "
                      f"{detail['split_gap_max']:.3f} (max)", flush=True)
                if abs(gap) > 0.05:
                    problems.append(f"{wl}: build+plan+exec off the wall by {gap:.3f}")
            print(f"ok  {wl} trace={trace} attempted={res['attempted']}", flush=True)
        try:
            res, detail = _result(_run(ROOT, wl, 1, "--inject-fault"))
            messages = " ".join(detail.get("messages", []))
            missed = [c for c, marker in INJECTED[wl] if marker not in messages]
            if res["failed"] == 0 or res["correct"] or missed:
                problems.append(f"{wl}: injected wrong expectations not caught: "
                                f"{missed or 'failed = 0'}")
            else:
                print(f"ok  {wl} catches injected faults "
                      f"(failed {res['failed']}/{res['attempted']})", flush=True)
        except RuntimeError as exc:
            problems.append(f"{wl} --inject-fault: {exc}")

    # without the package beside it the benchmark must refuse to run
    bare = os.path.join(ROOT, ".perfbench", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    proc = _run(bare, spec["workloads"][0]["name"], 0)
    shutil.rmtree(bare, ignore_errors=True)
    if proc.returncode == 0 or "correct" in proc.stdout:
        problems.append("a checkout without the package still produced a result")
    else:
        print(f"ok  bare directory exits {proc.returncode}", flush=True)

    if zero_everywhere:
        print("note: zero on every workload at tiny scale: " + ", ".join(sorted(zero_everywhere)))
    for p in problems:
        print("FAIL " + p)
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
