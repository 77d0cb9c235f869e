"""Incremental materialized-view maintenance for additive rollups.

A gold table like ``daily_revenue`` is an aggregate VIEW of the fact
stream; recomputing it from scratch per refresh (the reference's
overwrite-the-world ``silver_to_gold.py``) costs a full fact scan
forever. For ADDITIVE metrics (sum, count — and any mergeable sketch,
see ``operators/sketches.py``) the view is maintainable from deltas
alone: aggregate each new micro-batch to the view's grain, then merge
partials into the stored state (sum-merge on the group keys). This is
the Delta Live Tables / incremental-materialized-view core, expressed
as two small operators:

- ``merge_additive(current, delta, keys, sum_cols)`` — one keyed
  outer-merge; cost is O(|view| + |delta|), never the fact history;
- ``run_incremental_rollup`` — the streaming wrapper: per micro-batch
  aggregate → merge → publish as ONE atomic commit on the versioned
  table (operators/versioned.py), so readers always see a complete
  consistent view and every refresh is time-travelable.

Non-additive metrics (distinct counts, percentiles) slot in as sketch
columns (HLL/KLL partials union-merge exactly like sums — the
``sketches`` module); truly non-mergeable metrics need a rebuild and
should say so, not pretend.

At 100 TB: the view stays #groups-sized; each refresh shuffles only
the batch's partials plus the view (both small relative to facts), and
the versioned commit rewrite is view-sized, not fact-sized.
"""

from __future__ import annotations

import os
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def merge_additive(
    current: DataFrame | None,
    delta: DataFrame,
    keys: Sequence[str],
    sum_cols: Sequence[str],
    sketch_cols: Sequence[str] = (),
) -> DataFrame:
    """Merge a delta rollup into the current view state: full outer on
    the grain keys; ``sum_cols`` add (missing side contributes 0);
    ``sketch_cols`` hold HLL sketch binaries (``hll_sketch_agg``
    partials) and merge by ``hll_union`` — this is what makes DISTINCT
    COUNTS incrementally maintainable: the sketch is the mergeable form
    of a non-additive metric (operators/sketches.py contract), estimated
    only at read time via ``hll_sketch_estimate``. ``current=None``
    bootstraps from the delta."""
    if current is None:
        return delta.select(*keys, *sum_cols, *sketch_cols)
    metrics = [*sum_cols, *sketch_cols]
    c = current.select(
        *keys, *[F.col(m).alias(f"_cur_{m}") for m in metrics]
    )
    d = delta.select(
        *keys, *[F.col(m).alias(f"_new_{m}") for m in metrics]
    )
    merged = c.join(d, on=list(keys), how="full_outer")
    out_cols = [
        (
            F.coalesce(F.col(f"_cur_{m}"), F.lit(0))
            + F.coalesce(F.col(f"_new_{m}"), F.lit(0))
        ).alias(m)
        for m in sum_cols
    ]
    for m in sketch_cols:
        cur, new = F.col(f"_cur_{m}"), F.col(f"_new_{m}")
        out_cols.append(
            F.when(cur.isNull(), new)
            .when(new.isNull(), cur)
            .otherwise(F.hll_union(cur, new))
            .alias(m)
        )
    return merged.select(*keys, *out_cols)


def refresh_from_changes(
    spark: SparkSession,
    source_path: str,
    view_path: str,
    grain_exprs: dict[str, F.Column],
    value_exprs: dict[str, F.Column],
    app_id: str | None = None,
) -> dict | None:
    """Maintain an additive rollup over a MUTABLE versioned source via
    its change feed — the consumer pattern ``table_changes`` exists for.

    ``run_incremental_rollup`` handles append-only streams; a source
    that also takes MERGE/DELETE (a CDC-maintained table) breaks the
    append assumption — recomputing would be the fallback. Instead:
    read the changes since the view's watermark, turn them into SIGNED
    per-row contributions (+1 for insert/update_postimage, −1 for
    delete/update_preimage — an update contributes its post MINUS its
    pre, which is exactly the delta an additive metric needs), aggregate
    to the view grain, and merge into the stored view. ``value_exprs``
    are ROW-LEVEL values (e.g. ``F.col("amount")``; ``F.lit(1)`` for a
    count) — the signed SUM is applied here.

    The processed source version rides the view's commit as its txn
    watermark (app defaults to ``cdf::<source_path>``), so refresh is
    idempotent and restartable: call it as often as you like, each call
    applies exactly the unseen versions. Cost per refresh:
    O(changed files + view), never the source table.

    Returns the view's commit entry, or None when nothing new.
    """
    from .versioned import (
        commit,
        latest_txn_version,
        latest_version,
        read_table,
        table_changes,
    )

    txn_app = app_id or f"cdf::{os.path.abspath(source_path)}"
    src_latest = latest_version(source_path)
    if src_latest is None:
        return None
    seen = latest_txn_version(view_path, txn_app)
    from_v = 0 if seen is None else seen + 1
    if src_latest < from_v:
        return None

    feed = table_changes(spark, source_path, from_v, src_latest)
    sign = (
        F.when(F.col("_change_type").isin("insert", "update_postimage"), 1)
        .when(F.col("_change_type").isin("delete", "update_preimage"), -1)
    )
    keys = list(grain_exprs)
    # _row_n is the view's implicit row count (net signed rows per
    # group): the ONLY sound empties-a-group signal. A group whose
    # user metrics all net to zero can still hold rows (signed amounts
    # summing to 0; all-NULL values), and the from-scratch recompute
    # keeps it — so liveness must never be inferred from metric values.
    metrics = ["_row_n", *value_exprs]
    delta = (
        feed.groupBy(*[e.alias(n) for n, e in grain_exprs.items()])
        .agg(
            F.sum(sign).alias("_row_n"),
            *[F.sum(sign * e).alias(n) for n, e in value_exprs.items()],
        )
    )
    current = (
        read_table(spark, view_path)
        if latest_version(view_path) is not None
        else None
    )
    if current is not None and "_row_n" not in current.columns:
        raise ValueError(
            f"view at {view_path} has no _row_n column (an older on-disk "
            "format without row tracking, so emptied groups cannot be "
            "told apart). Rebuild it: refresh into a new view path."
        )
    merged = merge_additive(current, delta, keys, metrics)
    # drop only groups whose LAST ROW is gone — zero-valued (or NULL)
    # metrics for still-populated groups survive, matching the
    # from-scratch recompute
    alive = merged.filter(F.col("_row_n") > 0)
    return commit(
        alive, view_path, mode="overwrite",
        txn_app_id=txn_app, txn_version=src_latest,
    )


def run_incremental_rollup(
    spark: SparkSession,
    stream: DataFrame,
    view_path: str,
    checkpoint: str,
    grain_exprs: dict[str, F.Column],
    metric_exprs: dict[str, F.Column],
    app_id: str | None = None,
    sketch_exprs: dict[str, F.Column] | None = None,
    expire_every: int | None = None,
    keep_last: int = 7,
) -> None:
    """Maintain an additive rollup view from a stream, exactly-once.

    ``grain_exprs``/``metric_exprs`` name the view's key and metric
    columns as expressions over the stream rows (metrics must be
    additive aggregates — sums/counts). ``sketch_exprs`` adds
    NON-additive metrics as HLL sketch columns (values should be
    ``F.hll_sketch_agg(...)`` aggregates): partials union-merge per
    refresh, and readers estimate with ``hll_sketch_estimate`` — e.g.
    incrementally-maintained daily distinct users. Each micro-batch:
    aggregate the batch to the grain, merge into the stored view,
    publish atomically via the versioned log with the batch id as the
    writer-txn version (Delta's txnAppId/txnVersion pattern; ``app_id``
    defaults to the checkpoint path, which identifies the stream
    instance).

    Exactly-once needs BOTH legs: the streaming checkpoint stops
    re-delivery after a clean epoch commit, and the txn watermark stops
    re-APPLY when a batch is replayed after its table commit published
    but before the checkpoint epoch committed (crash in between) — the
    merge-onto-post-batch-state double-count the round-3 advice flagged.

    ``expire_every`` bounds table METADATA for a long-lived stream: a
    per-batch overwrite commit pattern grows the log (and dead view
    snapshots) forever; every N batches ``expire_log`` truncates history
    to the last ``keep_last`` versions behind a checkpoint. The txn
    watermark survives inside the checkpoint, so replay idempotence is
    unaffected — that pairing is the whole reason expire_log writes the
    base checkpoint first.
    """

    from .versioned import (
        commit,
        expire_log,
        latest_txn_version,
        latest_version,
        read_table,
    )

    keys = list(grain_exprs)
    metrics = list(metric_exprs)
    sketches = dict(sketch_exprs or {})
    txn_app = app_id or f"incremental_rollup::{os.path.abspath(checkpoint)}"

    def process(batch: DataFrame, batch_id: int) -> None:
        seen = latest_txn_version(view_path, txn_app)
        if seen is not None and batch_id <= seen:
            return  # replayed batch: its merge already published
        delta = (
            batch.groupBy(
                *[expr.alias(name) for name, expr in grain_exprs.items()]
            ).agg(
                *[expr.alias(name) for name, expr in metric_exprs.items()],
                *[expr.alias(name) for name, expr in sketches.items()],
            )
        )
        current = (
            read_table(spark, view_path)
            if latest_version(view_path) is not None
            else None
        )
        commit(
            merge_additive(current, delta, keys, metrics, list(sketches)),
            view_path,
            mode="overwrite",
            txn_app_id=txn_app,
            txn_version=batch_id,
        )
        if expire_every and batch_id > 0 and batch_id % expire_every == 0:
            expire_log(view_path, keep_last=keep_last)

    q = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
