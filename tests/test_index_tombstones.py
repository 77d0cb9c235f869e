"""Delete propagation into the persisted ANN index (operators/ann.py
tombstones — r7 verdict item 1).

The GDPR contract: once an id is deleted, NO search path may return it —
through further appends, health measurement, and physical compaction —
and the streaming delete leg must be exactly-once under replay. The
compaction contract: search results are IDENTICAL before and after the
rewrite (minus nothing — the mask already hid the rows), the purged rows
are physically gone, only affected bucket partitions are rewritten, and
a crash anywhere re-runs safely because the ledger update is last and
superset-safe. A tombstone whose rows never landed (a delete that
outran its append) must SURVIVE compaction so the rows stay masked
when they arrive.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
from pyspark.sql import functions as F

from medallion_data_lake_spark.catalog import load_star_table
from medallion_data_lake_spark.operators.ann import (
    MIN_BITS,
    append_to_ivf_index,
    build_ivf_index,
    build_kmeans_ivf_index,
    check_index_health,
    clear_tombstones,
    compact_index_tombstones,
    delete_from_index,
    delete_index_batch,
    init_streaming_ivf_index,
    measure_index_recall,
    read_tombstones,
    run_index_append_stream,
    run_index_delete_stream,
    search_index,
    search_ivf_index,
    search_pq_ivf_index,
)

SF = "/root/testdata/sf0.001"


def _emb(spark):
    return load_star_table(spark, SF, "embeddings")


def _hits(spark, idx, queries, **kw):
    return {
        r["cand_id"]
        for r in search_index(spark, idx, queries, **kw).collect()
    }


def test_delete_masks_all_search_paths_immediately(spark, tmp_path):
    emb = _emb(spark)
    idx = str(tmp_path / "idx")
    build_ivf_index(emb, idx, n_bits=MIN_BITS, pq_m=8, pq_k=16)
    queries = emb.filter(F.col("vec_id") < 3)

    # pick victims that actually surface for these queries
    before = search_ivf_index(spark, idx, queries, n_probes=4, k=5).collect()
    victims = sorted({r["cand_id"] for r in before})[:3]
    assert victims

    delete_from_index(spark, idx, victims)

    full = _hits(spark, idx, queries, n_probes=4, k=5)
    pq = {
        r["cand_id"]
        for r in search_pq_ivf_index(
            spark, idx, queries, n_probes=4, k=5, shortlist=30
        ).collect()
    }
    assert not (full & set(victims))
    assert not (pq & set(victims))

    # appends don't resurrect: tombstone-wins until cleared
    re_add = emb.filter(F.col("vec_id").isin(victims))
    append_to_ivf_index(re_add, idx)
    assert not (_hits(spark, idx, queries, n_probes=4, k=5) & set(victims))

    # health/recall honor the mask on BOTH sides (deleted docs are
    # neither sampled as queries nor charged as missed exact neighbors)
    r = measure_index_recall(spark, idx, queries, k=3, n_probes=4)
    assert 0.0 <= r <= 1.0
    h = check_index_health(spark, idx, sample_n=20)
    assert isinstance(h["rebuild_recommended"], bool)


def test_delete_masks_kmeans_layout(spark, tmp_path):
    emb = _emb(spark)
    idx = str(tmp_path / "kidx")
    build_kmeans_ivf_index(emb, idx, k=16)
    queries = emb.filter(F.col("vec_id") < 3)
    victims = sorted(_hits(spark, idx, queries, n_probes=4, k=5))[:2]
    delete_from_index(spark, idx, victims)
    assert not (_hits(spark, idx, queries, n_probes=4, k=5) & set(victims))


def test_compaction_purges_rows_and_preserves_results(spark, tmp_path):
    emb = _emb(spark)
    idx = str(tmp_path / "idx")
    build_ivf_index(emb, idx, n_bits=MIN_BITS, pq_m=8, pq_k=16)
    queries = emb.filter(F.col("vec_id") < 5)

    victims = sorted(_hits(spark, idx, queries, n_probes=4, k=5))[:4]
    # plus one whole bucket, to exercise the emptied-partition leg
    one_bucket = spark.read.parquet(idx).groupBy("bucket").count().orderBy(
        "count", "bucket"
    ).first()["bucket"]
    bucket_ids = [
        r["vec_id"]
        for r in spark.read.parquet(idx)
        .filter(F.col("bucket") == one_bucket)
        .select("vec_id")
        .collect()
    ]
    doomed = sorted(set(victims) | set(bucket_ids))
    delete_from_index(spark, idx, doomed)

    n_before = spark.read.parquet(idx).count()
    masked = search_ivf_index(spark, idx, queries, n_probes=4, k=5)
    pre = {(r["query_id"], r["rank"]): r["cand_id"] for r in masked.collect()}

    out = compact_index_tombstones(spark, idx)
    assert out["purged_rows"] == len(doomed)
    assert out["removed_partitions"] >= 1  # the emptied bucket dir
    # ledger cleared last; physical rows gone; results byte-identical
    assert read_tombstones(spark, idx) is None
    assert spark.read.parquet(idx).count() == n_before - len(doomed)
    assert not os.path.isdir(os.path.join(idx, f"bucket={one_bucket}"))
    post = {
        (r["query_id"], r["rank"]): r["cand_id"]
        for r in search_ivf_index(spark, idx, queries, n_probes=4, k=5).collect()
    }
    assert post == pre

    # idempotent: a second run (crash-replay shape) is a no-op
    out2 = compact_index_tombstones(spark, idx)
    assert out2 == {"purged_rows": 0, "rewritten_partitions": 0,
                    "removed_partitions": 0, "retained_tombstones": 0}


def test_inflight_delete_survives_compaction(spark, tmp_path):
    """GDPR tombstone-wins under ingest lag: a delete whose doc hasn't
    been indexed yet must NOT be dropped by a compaction that finds no
    rows for it — clearing it would unmask the doc the moment its
    append lands (r8 self-review finding)."""
    emb = _emb(spark)
    idx = str(tmp_path / "idx")
    # index everything EXCEPT vec_id 0/1 — their deletes arrive early
    build_ivf_index(emb.filter(F.col("vec_id") >= 2), idx, n_bits=MIN_BITS)
    queries = emb.filter(F.col("vec_id") < 5)
    victim = sorted(_hits(spark, idx, queries, n_probes=4, k=5))[0]
    delete_from_index(spark, idx, [victim, 0, 1])

    out = compact_index_tombstones(spark, idx)
    assert out["purged_rows"] == 1            # only the indexed victim
    assert out["retained_tombstones"] == 2    # 0/1 stay masked
    assert {r["vec_id"] for r in read_tombstones(spark, idx).collect()} == {0, 1}

    # the late append lands — the retained tombstones still mask it
    append_to_ivf_index(emb.filter(F.col("vec_id") < 2), idx)
    hits = _hits(spark, idx, queries, n_probes=4, k=5)
    assert not (hits & {0, 1, victim})

    # the NEXT compaction finds the rows, purges them, empties the ledger
    out2 = compact_index_tombstones(spark, idx)
    assert out2["purged_rows"] == 2
    assert out2["retained_tombstones"] == 0
    assert read_tombstones(spark, idx) is None
    assert spark.read.parquet(idx).filter(F.col("vec_id") < 2).count() == 0


def test_compaction_with_nothing_indexed_retains_everything(spark, tmp_path):
    """All-unmatched ledger: compaction is a no-op that reports the
    retained count and leaves the ledger byte-identical in effect."""
    emb = _emb(spark)
    idx = str(tmp_path / "idx")
    build_ivf_index(emb.filter(F.col("vec_id") >= 100), idx, n_bits=MIN_BITS)
    delete_from_index(spark, idx, [0, 1, 2])
    out = compact_index_tombstones(spark, idx)
    assert out == {"purged_rows": 0, "rewritten_partitions": 0,
                   "removed_partitions": 0, "retained_tombstones": 3}
    assert read_tombstones(spark, idx).count() == 3


def test_clear_tombstones_is_the_explicit_readd_path(spark, tmp_path):
    emb = _emb(spark)
    idx = str(tmp_path / "idx")
    build_ivf_index(emb, idx, n_bits=MIN_BITS)
    queries = emb.filter(F.col("vec_id") < 3)
    victim = sorted(_hits(spark, idx, queries, n_probes=4, k=5))[0]
    delete_from_index(spark, idx, [victim])
    assert victim not in _hits(spark, idx, queries, n_probes=4, k=5)
    clear_tombstones(idx)  # deliberate two-step re-add
    assert victim in _hits(spark, idx, queries, n_probes=4, k=5)


def test_streaming_delete_exactly_once_and_compaction_hook(spark, tmp_path):
    emb = _emb(spark)
    src = str(tmp_path / "src")
    emb.filter(F.col("vec_id") % 2 == 0).write.parquet(f"{src}/d0")
    emb.filter(F.col("vec_id") % 2 == 1).write.parquet(f"{src}/d1")

    idx = str(tmp_path / "idx")
    ck = str(tmp_path / "ck")
    init_streaming_ivf_index(idx, n_bits=MIN_BITS)
    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{src}/d*")
    )
    run_index_append_stream(spark, stream, idx, ck)
    n = emb.count()
    assert spark.read.parquet(idx).count() == n

    # delete stream: two single-file drops -> two ledger batches
    doomed = emb.filter(F.col("vec_id") < 10).select("vec_id")
    dsrc = str(tmp_path / "dsrc")
    doomed.filter(F.col("vec_id") < 5).write.parquet(f"{dsrc}/d0")
    doomed.filter(F.col("vec_id") >= 5).write.parquet(f"{dsrc}/d1")
    dck = str(tmp_path / "dck")

    def run_deletes():
        ds = (
            spark.readStream.schema(doomed.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{dsrc}/d*")
        )
        run_index_delete_stream(spark, ds, idx, dck)

    run_deletes()
    assert read_tombstones(spark, idx).count() == 10
    queries = emb.filter(F.col("vec_id").isin(50, 51, 52))
    assert not (
        _hits(spark, idx, queries, n_probes=4, k=5) & set(range(10))
    )

    # replay after checkpoint loss: ledger partitions rewrite, never grow
    shutil.rmtree(dck)
    run_deletes()
    assert read_tombstones(spark, idx).count() == 10
    raw = spark.read.parquet(os.path.join(idx, "_tombstones"))
    assert raw.count() == 10  # no duplicate rows across replays either

    # streamed (two-level) layout compaction via the append-stream hook:
    # threshold 5 < 10 tombstones -> next landed batch compacts
    more = str(tmp_path / "more")
    emb.filter(F.col("vec_id") >= n - 4).write.parquet(f"{more}/d0")
    stream2 = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{more}/d0")
    )
    run_index_append_stream(
        spark, stream2, idx, str(tmp_path / "ck2"),
        compact_tombstones_over=5,
    )
    assert read_tombstones(spark, idx) is None  # compacted + cleared
    # physically purged from the two-level layout; search still clean
    assert (
        spark.read.parquet(idx).filter(F.col("vec_id") < 10).count() == 0
    )
    assert not (
        _hits(spark, idx, queries, n_probes=4, k=5) & set(range(10))
    )


def test_compaction_on_kmeans_layout(spark, tmp_path):
    """The learned-codebook layout partitions on cell id only — the
    compaction's partition-column discovery must handle it identically
    to the sign layout."""
    emb = _emb(spark)
    idx = str(tmp_path / "kidx")
    build_kmeans_ivf_index(emb, idx, k=8)
    doomed = [r["vec_id"] for r in emb.select("vec_id").limit(5).collect()]
    delete_from_index(spark, idx, doomed)
    n_before = spark.read.parquet(idx).count()
    out = compact_index_tombstones(spark, idx)
    assert out["purged_rows"] == len(doomed)
    assert read_tombstones(spark, idx) is None
    assert spark.read.parquet(idx).count() == n_before - len(doomed)
    queries = emb.filter(F.col("vec_id") >= 50).limit(3)
    assert not (_hits(spark, idx, queries, n_probes=4, k=5) & set(doomed))


def test_delete_batch_replay_rewrites_own_partition(spark, tmp_path):
    emb = _emb(spark)
    idx = str(tmp_path / "idx")
    build_ivf_index(emb, idx, n_bits=MIN_BITS)
    ids = emb.filter(F.col("vec_id") < 6).select("vec_id")
    delete_index_batch(ids, idx, batch_id=7)
    delete_index_batch(ids, idx, batch_id=7)  # replay
    assert read_tombstones(spark, idx).count() == 6
    raw = spark.read.parquet(os.path.join(idx, "_tombstones"))
    assert raw.count() == 6


def test_delete_coerces_plain_ids_to_index_dtype(spark, tmp_path):
    """delete_from_index's stated contract: plain-Python ids are coerced
    HERE, where the index's id dtype is known — the CLI only has strings.
    Decimal-keyed indexes were the gap (r8 ADVICE: identity passthrough
    left raw strings to fail createDataFrame type verification)."""
    from decimal import Decimal

    emb = _emb(spark).withColumn(
        "vec_id", F.col("vec_id").cast("decimal(10,0)")
    )
    idx = str(tmp_path / "idx_dec")
    build_ivf_index(emb, idx, n_bits=MIN_BITS)
    queries = emb.filter(F.col("vec_id") < 3)

    before = search_ivf_index(spark, idx, queries, n_probes=4, k=5).collect()
    victims = sorted({r["cand_id"] for r in before})[:2]
    assert victims

    # the CLI path: string ids against a decimal-keyed index
    delete_from_index(spark, idx, [str(v) for v in victims])

    t = {r["vec_id"] for r in read_tombstones(spark, idx).collect()}
    assert t == {Decimal(str(v)) for v in victims}
    assert not (_hits(spark, idx, queries, n_probes=4, k=5) & set(victims))


def test_failing_stream_maintenance_logs_and_batch_lands(
    spark, tmp_path, monkeypatch, caplog
):
    """The append stream's maintenance hooks are best-effort but loud: a
    compaction (or health) failure logs a warning with its traceback,
    and the batch still lands; the ledger stays for the next retry."""
    import logging

    from medallion_data_lake_spark.operators import ann

    emb = _emb(spark).filter(F.col("vec_id") < 8)
    src = str(tmp_path / "src")
    emb.write.parquet(f"{src}/d0")
    idx = str(tmp_path / "idx")
    init_streaming_ivf_index(idx, n_bits=MIN_BITS)
    delete_from_index(spark, idx, emb.filter(F.col("vec_id") < 2))

    def broken(*args, **kw):
        raise OSError("simulated maintenance fault")

    monkeypatch.setattr(ann, "compact_index_tombstones", broken)
    monkeypatch.setattr(ann, "persist_index_health", broken)
    stream = spark.readStream.schema(emb.schema).parquet(f"{src}/d*")
    with caplog.at_level(logging.WARNING, logger=ann.__name__):
        run_index_append_stream(
            spark, stream, idx, str(tmp_path / "ck"),
            health_every_batches=1, compact_tombstones_over=1,
        )
    warned = {
        r.getMessage().split(" on ")[0] for r in caplog.records
        if r.name == ann.__name__ and r.levelno == logging.WARNING
        and r.exc_info is not None
    }
    assert warned == {"tombstone compaction", "index health"}
    assert spark.read.parquet(idx).count() == 8  # the batch landed
    assert read_tombstones(spark, idx).count() == 2  # ledger kept
