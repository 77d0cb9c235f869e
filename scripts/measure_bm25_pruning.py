"""Measure the serving-store bm25 pruning (impact-ordered early
termination) and its dispatch at the 50k clone.

Two regimes, both reported because they bracket real corpora:

(a) the STOCK 50k clone store: 31-token vocabulary, every term df
    70-77% — the degenerate all-stopword regime where the cut always
    overflows and the pruned path falls back. Measures the fallback
    overhead (probe statements on cached prepared handles) plus the
    prepared-statement-cache gain on the unchanged full scan.
(b) a ZIPF-TAIL store at the same 50k docs: each doc additionally
    carries tail tokens with Zipf-like document frequencies (df from
    ~12k down to single digits), the vocabulary shape every real corpus
    has. Measures the pruned regime: request cost bounded by k and the
    candidate cap, independent of the matched terms' posting mass.

Every timed request is asserted equal to the exhaustive full-scan form
(_bm25_full) — the equality is the point, the speed is the reward.

Each regime also reports the per-phase split of the public bm25()
requests ("phase_ms_per_req"): the store statements each request ran,
timed and classed by their SQL shape — the dispatch lookup, the
per-term probes, the capped leg counts, the θ-refine, the pruned
final re-score, and the full scan.

Usage:
  python scripts/measure_bm25_pruning.py [clone_dir] [work_dir]
  (defaults /tmp/mdls_scale/sf1.0, /tmp/mdls_scale/storeopt; build the
  clone first with scripts/make_scale_clone.py. Indexes and stores are
  reused when present; a store exported in an older format, without
  the impact_fx column, is exported again.)
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from medallion_data_lake_spark.operators.inverted_index import (  # noqa: E402
    create_bm25_index,
)
from medallion_data_lake_spark.serving_store import (  # noqa: E402
    T_POSTINGS,
    T_TERMSTATS,
    ServingStore,
    export_search_store,
)
from medallion_data_lake_spark.session import get_spark  # noqa: E402

N_REQ = 60


def ensure_store(spark, docs, root, url) -> None:
    """Build the index if absent; export the store unless it already
    carries fixed-point impacts."""
    if not os.path.exists(root):
        create_bm25_index(spark, docs, root, n_files=32)
    with ServingStore(spark, url) as store:
        if "impact_fx" in store.columns(T_POSTINGS):
            return
    export_search_store(spark, root, url)


def _phase(sql: str) -> str:
    """The bm25 phase a store statement belongs to, from its shape."""
    if T_TERMSTATS in sql:
        return "dispatch"
    if sql.startswith("SELECT COUNT(*) FROM ("):
        return "count"
    if 'WHERE p."term" = ?' in sql:
        return "probe"
    if "VALUES" in sql:
        return "refine"
    if " cand, " in sql:
        return "pruned_final"
    return "full_scan"


class PhaseTimer:
    """Wraps a store's ``query`` to total wall time per bm25 phase."""

    def __init__(self, store: ServingStore):
        self.ms: dict[str, float] = {}
        self.on = False
        inner = store.query

        def timed(sql, *a, **kw):
            t0 = time.perf_counter()
            try:
                return inner(sql, *a, **kw)
            finally:
                if self.on:
                    p = _phase(sql)
                    self.ms[p] = (self.ms.get(p, 0.0)
                                  + 1000 * (time.perf_counter() - t0))
        store.query = timed


def bench_requests(store: ServingStore, cases: list[tuple[list[str], int]],
                   n_req: int = N_REQ) -> dict:
    """p50/p95 of the public bm25() (pruned-with-fallback) vs the
    forced full scan, same request mix, with inline equality asserts."""
    store.bm25_stats = {"pruned": 0, "full": 0}
    phases = PhaseTimer(store)
    # warm both statement families once (compile amortization is part
    # of the design; report warm latencies like every store table here)
    for terms, k in cases:
        a = store.bm25(terms, k=k)
        b = store._bm25_full(sorted(set(terms)), k)
        assert a["rows"] == b["rows"], (terms, k)
    t_auto, t_full = [], []
    for i in range(n_req):
        terms, k = cases[i % len(cases)]
        phases.on = True
        t0 = time.time()
        a = store.bm25(terms, k=k)
        t_auto.append(time.time() - t0)
        phases.on = False
        t0 = time.time()
        b = store._bm25_full(sorted(set(terms)), k)
        t_full.append(time.time() - t0)
        # equality asserted on EVERY timed request (outside both timed
        # windows, so the latencies are unaffected) — the docstring's
        # claim, previously only checked in the warm-up pass
        assert a["rows"] == b["rows"], (terms, k, i)
    t_auto.sort(), t_full.sort()
    return {
        "p50_pruned_auto_ms": round(1000 * statistics.median(t_auto), 1),
        "p95_pruned_auto_ms": round(1000 * t_auto[int(0.95 * len(t_auto)) - 1], 1),
        "p50_full_ms": round(1000 * statistics.median(t_full), 1),
        "p95_full_ms": round(1000 * t_full[int(0.95 * len(t_full)) - 1], 1),
        "mode_counts": dict(store.bm25_stats),
        "phase_ms_per_req": {p: round(v / n_req, 1)
                             for p, v in sorted(phases.ms.items())},
    }


def main() -> None:
    clone = sys.argv[1] if len(sys.argv) > 1 else "/tmp/mdls_scale/sf1.0"
    work = sys.argv[2] if len(sys.argv) > 2 else "/tmp/mdls_scale/storeopt"
    os.makedirs(work, exist_ok=True)
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(app_name="bm25-pruning", master=f"local[{cpus}]",
                      extra_conf={"spark.sql.shuffle.partitions": cpus})
    spark.sparkContext.setLogLevel("ERROR")
    spark._jvm.java.lang.System.setProperty("derby.system.home", work)

    docs = spark.read.parquet(os.path.join(clone, "documents.parquet")) \
        .select("doc_id", "text")
    out: dict = {"n_docs": docs.count()}

    # -- (a) stock clone store: all-stopword vocabulary ------------------
    stock_root = os.path.join(work, "bm25idx")
    stock_url = f"jdbc:derby:{work}/servingdb;create=true"
    ensure_store(spark, docs, stock_root, stock_url)
    with ServingStore(spark, stock_url) as store:
        stock_cases = [
            (["stream"], 10), (["join", "hash"], 10),
            (["vector", "small", "table"], 10), (["window"], 10),
        ]
        out["stock_31term_allstop"] = bench_requests(store, stock_cases)

    # -- (b) zipf-tail store: the realistic vocabulary shape -------------
    # doc i gains tail tokens tail{j} for each j where i % (2^j) == 0:
    # df(tail_j) = n/2^j — a clean geometric tail from ~25k down to 1.
    zdocs = docs.withColumn(
        "text",
        F.concat_ws(
            " ", F.col("text"),
            F.concat_ws(" ", *[
                F.when(F.col("doc_id") % (2 ** j) == 0,
                       F.lit(f"tail{j}")).otherwise(F.lit(""))
                for j in range(2, 16)
            ]),
        ),
    )
    zipf_root = os.path.join(work, "bm25idx_zipf")
    zipf_url = f"jdbc:derby:{work}/servingdb_zipf;create=true"
    ensure_store(spark, zdocs, zipf_root, zipf_url)
    with ServingStore(spark, zipf_url) as store:
        zipf_cases = [
            (["tail6", "tail10"], 10),          # df ~ n/64 + n/1k
            (["tail4", "stream"], 10),          # selective + stopword
            (["tail5", "tail7", "tail9"], 10),
            (["tail6", "join", "stream"], 10),  # 1 selective + 2 stop
        ]
        out["zipf_tail"] = bench_requests(store, zipf_cases)

    print(json.dumps(out, indent=2))


if __name__ == "__main__":
    main()
