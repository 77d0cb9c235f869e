#!/usr/bin/env python3
"""Benchmark entry point for the medallion engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Each invocation is one fresh process
with one ``local[nproc]`` Spark session. It generates its inputs (the
fixed star tables and the seed's bronze envelopes, cached under
``.perfbench/`` and verified by digest), draws its workload from the
seed, sets up and warms up untimed (both counted in ``setup_s``),
measures a closed loop with one client for ``--seconds`` (the query
workload: at least six whole passes), checks the outputs, and prints as
its LAST line one JSON object ``{"correct", "attempted", "failed",
"metrics"}``. With ``--trace 0`` the metrics are the end-to-end metrics
of BENCHMARK.json, with ``--trace 1`` the per-layer ones; a layer a
workload does not exercise reports 0. The line before it carries the
run's detail: host, versions, seed, sample counts, per-workload figures
and ``failed_ratio``. A traced run also writes its spans to
``.perfbench/trace-<workload>-<seed>.jsonl``.

Workloads: ``queries_sf0.1`` (perfbench/wl_queries.py) and
``store_serving`` (perfbench/wl_serving.py, whose traced runs also build
the lake through perfbench/lake.py).
``--scale tiny`` and ``--inject-fault`` exist for perfbench/selftest.py.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import harness  # noqa: E402

SCALES = {
    # "sf": the star tables the queries read; "serve_sf": the star set
    # whose documents and embeddings the serving workload indexes,
    # exports and serves; "curate_sf": the star set whose documents the
    # lake build curates; bronze payments and the re-delivered and
    # corrupt envelope shares of the lake build. Set-up time grows with
    # the served and curated corpora, and these sizes keep a run inside
    # the time budget.
    "full": {"sf": 0.1, "serve_sf": 0.1, "curate_sf": 0.005, "payments": 2_000,
             "dup": 0.05, "corrupt": 0.01},
    "tiny": {"sf": 0.001, "serve_sf": 0.001, "curate_sf": 0.001, "payments": 200,
             "dup": 0.05, "corrupt": 0.02},
}
KEEP_SEEDS = 4  # cached input sets kept per kind
RUN_DIRS = ("spark-local", "tmp", "store")  # under .perfbench/, one run's own


class Context:
    def __init__(self, args, work: str, cores: int):
        self.seed = args.seed
        self.seconds = args.seconds
        self.scale = SCALES[args.scale]
        self.inject_fault = args.inject_fault
        self.cores = cores
        self.work = work
        self.cache = os.path.join(work, "cache")
        self.tracer = harness.Tracer(bool(args.trace))
        self.spark = None
        self.probe = None
        self.star_dir = None
        self.curate_dir = None
        self.messages: list[str] = []

    def log(self, msg: str) -> None:
        self.messages.append(msg[:300])
        print(msg, file=sys.stderr)

    def bronze(self) -> tuple[str, dict]:
        s = self.scale
        return datagen.bronze_dir(self.cache, self.seed, s["payments"], s["dup"],
                                  s["corrupt"])


def _prune_cache(cache: str) -> None:
    """Keep the most recently used input sets of each kind."""
    if not os.path.isdir(cache):
        return
    kinds: dict[str, list[str]] = {}
    for name in os.listdir(cache):
        kinds.setdefault(name.rsplit("_seed", 1)[0], []).append(os.path.join(cache, name))
    for paths in kinds.values():
        paths.sort(key=os.path.getmtime, reverse=True)
        for p in paths[KEEP_SEEDS:]:
            shutil.rmtree(p)


def _java_version() -> str:
    try:
        out = subprocess.run(["java", "-version"], capture_output=True, text=True)
    except OSError:
        return "unknown"
    lines = [ln for ln in (out.stderr + out.stdout).splitlines() if "version" in ln]
    return lines[0] if lines else "unknown"


def _stop_jvm() -> None:
    """End the JVM the session started and wait for it to exit: it
    leaves when the pipe to its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is not None and getattr(gateway, "proc", None) is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=120)


def _metrics(names: list[dict], values: dict) -> dict:
    return {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
            for m in names}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=tuple(SCALES), default="full")
    ap.add_argument("--inject-fault", action="store_true",
                    help="corrupt one expected result (self-test of the checks)")
    args = ap.parse_args(argv)

    import wl_queries
    import wl_serving

    workloads = {"queries_sf0.1": wl_queries, "store_serving": wl_serving}
    if args.workload not in workloads:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(workloads)}")
    if not os.path.isfile(os.path.join(ROOT, "medallion_data_lake_spark", "__init__.py")):
        print("perfbench: medallion_data_lake_spark/ is not beside perfbench/; "
              "run from the root of a full checkout", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)

    # everything the run writes stays inside the checkout
    work = os.path.join(ROOT, ".perfbench")
    tmp = os.path.join(work, "tmp")
    for d in RUN_DIRS:  # left behind by a run that was killed
        shutil.rmtree(os.path.join(work, d), ignore_errors=True)
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = (f"-Djava.io.tmpdir={tmp} "
                                       f"-Dderby.system.home={work}")
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    sys.path.insert(0, ROOT)
    os.chdir(work)

    cores = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    ctx = Context(args, work, cores)
    # input generation stays outside set-up time
    if args.workload == "store_serving":
        ctx.star_dir = datagen.star_dir(ctx.cache, ctx.scale["serve_sf"])
        ctx.curate_dir = datagen.star_dir(ctx.cache, ctx.scale["curate_sf"])
        ctx.bronze()
    else:
        ctx.star_dir = datagen.star_dir(ctx.cache, ctx.scale["sf"])
    _prune_cache(ctx.cache)

    t0 = time.perf_counter()
    with ctx.tracer.span("session.start"):
        ctx.spark = harness.start_spark(cores, work)
    session_s = time.perf_counter() - t0
    try:
        ctx.probe = harness.ExecProbe(ctx.spark, cores, ctx.tracer.enabled)
        out = workloads[args.workload].run(ctx)
        import pyspark
        versions = {"pyspark": pyspark.__version__, "java": _java_version(),
                    "python": platform.python_version()}
    finally:
        ctx.spark.stop()
        _stop_jvm()
        for d in RUN_DIRS:
            shutil.rmtree(os.path.join(work, d), ignore_errors=True)

    lat = out["op_latencies"]
    attempted, failed = out["attempted"], out["failed"]
    e2e = {
        "setup_s": session_s + out["setup_extra_s"],
        "op_iqm_ms": harness.interquartile_mean(lat) * 1e3,
        "ops_per_s": len(lat) / out["measured_s"] if out["measured_s"] else 0.0,
    }
    detail = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "scale": args.scale, "cores": cores,
        "master": f"local[{cores}]", **versions,
        "failed_ratio": failed / attempted if attempted else 1.0,
        "session_start_s": session_s, "samples": len(lat),
        "op_p50_ms": harness.median(lat) * 1e3,
        "end_to_end": e2e, **out["detail"], "messages": ctx.messages[:20],
    }
    if args.trace:
        layers = {"session.start_s": session_s, **out["layers"]}
        metrics = _metrics(spec["per_layer"], layers)
        trace_path = os.path.join(work, f"trace-{args.workload}-{args.seed}.jsonl")
        ctx.tracer.write(trace_path)
        detail["spans"] = len(ctx.tracer.spans)
    else:
        metrics = _metrics(spec["end_to_end"], e2e)
    print(json.dumps({"detail": detail}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
