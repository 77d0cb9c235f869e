"""The lake build of the serving workload's traced runs: the write path.

Seeded bronze JSON envelopes (with re-delivered and truncated records)
go through ``pipeline.run_pipeline`` (bronze -> silver -> gold), the
``pipeline.reconcile`` bronze/silver check on payments, and the
rule-tier ``curation_pipeline.curate_corpus`` over a small seeded
document set, written to parquet. Silver row counts, corrupt-row counts and the reconcile amounts are
checked against what the generator wrote.
"""

from __future__ import annotations

import os

import pyarrow.parquet as pq

import harness

SILVER_TABLES = ("customer", "film", "payment", "rental", "inventory")
GOLD_TABLES = ("customer_summary", "daily_revenue", "rental_trends", "film_performance")


def check(report: dict, rec: dict, expect: dict) -> list[str]:
    errs = []
    stages = {(s["stage"], s["table"]): s for s in report["stages"]}
    for t in SILVER_TABLES:
        s = stages.get(("silver", t))
        if s is None:
            errs.append(f"silver {t} missing")
            continue
        if s["rows"] != expect["silver_rows"][t]:
            errs.append(f"silver {t} rows {s['rows']} != {expect['silver_rows'][t]}")
        if s["corrupt_rows"] != expect["corrupt_rows"][t]:
            errs.append(f"silver {t} corrupt {s['corrupt_rows']} != {expect['corrupt_rows'][t]}")
    for t in GOLD_TABLES:
        if not stages.get(("gold", t), {}).get("rows"):
            errs.append(f"gold {t} empty")
    want = {
        "bronze": (expect["bronze_clean"]["payment"], expect["payment_bronze_amount"]),
        "silver": (expect["silver_rows"]["payment"], expect["payment_silver_amount"]),
    }
    for layer, (n, amount) in want.items():
        got = rec.get(layer)
        if got is None or got["record_count"] != n or abs(got["total_amount"] - amount) > 1e-6:
            errs.append(f"reconcile {layer} {got} != {(n, amount)}")
    return errs


def build(ctx, out_root: str) -> dict:
    """Build the lake under ``out_root``; returns the check failures,
    byte counts and layer metrics."""
    from medallion_data_lake_spark.operators.curation_pipeline import curate_corpus
    from medallion_data_lake_spark.pipeline import reconcile, run_pipeline

    spark, tracer, probe = ctx.spark, ctx.tracer, ctx.probe
    bronze, expect = ctx.bronze()
    if ctx.inject_fault:  # a wrong expectation the check must catch
        rows = expect["silver_rows"]
        expect = {**expect, "silver_rows": {**rows, "payment": rows["payment"] + 1}}
    docs_path = os.path.join(ctx.curate_dir, "documents.parquet")
    silver, gold, curated = (os.path.join(out_root, d) for d in ("silver", "gold", "curated"))

    with tracer.span("pipeline.run_pipeline"), probe.tagged() as tag:
        result = run_pipeline(spark, bronze, silver, gold)
    probe.collect(tag)
    with tracer.span("pipeline.reconcile"), probe.tagged() as tag:
        rec = {r["layer"]: r.asDict() for r in
               reconcile(spark, bronze, silver, "payment", "amount").collect()}
    probe.collect(tag)
    obs: dict = {}
    with tracer.span("curation.build"), probe.tagged() as tag:
        curate_corpus(spark.read.parquet(docs_path), observations=obs)["curated"] \
            .write.mode("overwrite").parquet(curated)
    probe.collect(tag)

    report = result["report"]
    written = [harness.dir_bytes(d) for d in (silver, gold, curated)]
    in_bytes = harness.dir_bytes(bronze)[0] + os.path.getsize(docs_path)
    out = {
        "errors": check(report, rec, expect),
        "detail": {
            "bronze_rows": sum(expect["bronze_clean"].values())
            + sum(expect["corrupt_rows"].values()),
            "input_bytes": in_bytes,
            "stored_bytes_per_input_byte": sum(b for b, _ in written) / in_bytes,
        },
    }
    stage_s = {f"pipeline.{s['stage']}.{s['table']}_s": s["seconds"]
               for s in report["stages"]}
    silver_stages = [s for s in report["stages"] if s["stage"] == "silver"]
    kept = obs["curated"].get["n"]
    seen = pq.read_metadata(docs_path).num_rows
    out["layers"] = {
        **{f"pipeline.silver.{t}_s": stage_s.get(f"pipeline.silver.{t}_s", 0.0)
           for t in SILVER_TABLES},
        **{f"pipeline.gold.{t}_s": stage_s.get(f"pipeline.gold.{t}_s", 0.0)
           for t in GOLD_TABLES},
        "pipeline.run_s": tracer.total("pipeline.run_pipeline"),
        "pipeline.reconcile_s": tracer.total("pipeline.reconcile"),
        "pipeline.silver_rows": sum(s["rows"] for s in silver_stages),
        "pipeline.corrupt_rows": sum(s["corrupt_rows"] for s in silver_stages),
        "sinks.bytes_written": sum(b for b, _ in written),
        "sinks.files_written": sum(n for _, n in written),
        "curation.build_s": tracer.total("curation.build"),
        "curation.kept_ratio": kept / seen if seen else 0.0,
    }
    return out
