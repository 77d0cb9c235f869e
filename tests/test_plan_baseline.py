"""Committed plan-fingerprint baseline: PLAN_BASELINE.json pins the
normalized optimized-plan digest of EVERY registered query (gated +
extra). bench.py has emitted these fingerprints since r7 and
tests/test_bench_fingerprint.py proves they are a function of the plan
alone — but nothing FAILED when a plan regressed; the fp was only
consulted forensically. This test makes a plan change a reviewed event:
an intentional change must touch the baseline file in the same commit.

Update path (after verifying the new plan is the one you want, e.g. via
.explain("formatted") and a bench run):

    MDLS_UPDATE_PLAN_BASELINE=1 python -m pytest tests/test_plan_baseline.py

which rewrites PLAN_BASELINE.json in place; commit it with the change.
"""

from __future__ import annotations

import json
import os
from contextlib import contextmanager

import pytest

from bench import plan_fingerprint
from medallion_data_lake_spark.queries import load_all_extra

BASELINE_FILE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "PLAN_BASELINE.json",
)
# fingerprints are sf-independent (data paths are normalized out;
# proven by test_bench_fingerprint.py) — build on the smallest fixture
SF = "/root/testdata/sf0.001"
# The spread loader (catalog.load_star_table_spread) repartitions to the
# session's default parallelism, and the optimizer drops a later
# coalesce(n) only when n is at least that count — so at 32 cores
# media_decode_features keeps a coalesce(8) node it loses at 4 or 8.
# The baseline plans are built at one fixed parallelism (the
# fingerprint already ignores the repartition count itself).
BASELINE_PARALLELISM = 8


@contextmanager
def pinned_parallelism(spark, n: int):
    """Run the block with ``spark.default.parallelism`` set to ``n`` —
    the live SparkContext reads it on every ``defaultParallelism``
    call — and restore the previous setting after."""
    conf = spark.sparkContext._jsc.sc().conf()
    key = "spark.default.parallelism"
    old = conf.get(key) if conf.contains(key) else None
    conf.set(key, str(n))
    try:
        yield
    finally:
        if old is None:
            conf.remove(key)
        else:
            conf.set(key, old)


def _current_fps(spark) -> dict[str, str]:
    # the baseline is defined over UNCACHED plans: an earlier test (or
    # interactive session) that cached a shared frame makes Spark's
    # CacheManager substitute InMemoryRelation into every matching
    # sub-plan, moving fingerprints that have nothing to do with the
    # query's own code (observed via tests/test_serving.py's cached
    # gold tables drifting all documents/embeddings-based fps)
    spark.catalog.clearCache()
    with pinned_parallelism(spark, BASELINE_PARALLELISM):
        return {
            name: plan_fingerprint(spec.build(spark, SF))
            for name, spec in sorted(load_all_extra().items())
        }


def test_plans_match_committed_baseline(spark):
    fps = _current_fps(spark)
    if os.environ.get("MDLS_UPDATE_PLAN_BASELINE") == "1":
        with open(BASELINE_FILE, "w") as fh:
            json.dump(fps, fh, indent=1, sort_keys=True)
            fh.write("\n")
        pytest.skip("PLAN_BASELINE.json rewritten; commit it")
    assert os.path.exists(BASELINE_FILE), (
        "PLAN_BASELINE.json missing — generate it with "
        "MDLS_UPDATE_PLAN_BASELINE=1 python -m pytest "
        "tests/test_plan_baseline.py"
    )
    baseline = json.load(open(BASELINE_FILE))
    drifted = {
        n: (baseline.get(n), fp)
        for n, fp in fps.items()
        if baseline.get(n) != fp
    }
    removed = sorted(set(baseline) - set(fps))
    assert not drifted and not removed, (
        f"optimized plans drifted from PLAN_BASELINE.json — "
        f"changed/new: {sorted(drifted)}; removed: {removed}. If the new "
        "plan is intended (verified via explain + bench), regenerate with "
        "MDLS_UPDATE_PLAN_BASELINE=1 python -m pytest "
        "tests/test_plan_baseline.py and commit the file in the SAME "
        "change; if not, you just caught a plan regression before it "
        "cost a bench cycle."
    )
