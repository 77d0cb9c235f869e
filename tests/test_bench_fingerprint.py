"""bench.py plan fingerprints: the normalization must make the digest
a function of the PLAN alone — stable across scale-factor paths and
expression-id renumbering — so a round-over-round fingerprint match
proves a timing swing is machine weather (the r6 lesson)."""

from __future__ import annotations

from bench import plan_fingerprint
from medallion_data_lake_spark.queries import load_all_extra
from tests.test_plan_baseline import SF, pinned_parallelism

REG = load_all_extra()


def test_fingerprint_stable_across_sf_dirs(spark):
    a = plan_fingerprint(REG["pricing_summary"].build(
        spark, "/root/testdata/sf0.001"))
    b = plan_fingerprint(REG["pricing_summary"].build(
        spark, "/root/testdata/sf0.01"))
    assert a == b  # data path stripped: same plan, same fp


def test_fingerprint_stable_across_rebuilds(spark):
    # rebuilding the same query renumbers expression IDs (#123) —
    # normalization must erase that
    a = plan_fingerprint(REG["regional_revenue"].build(
        spark, "/root/testdata/sf0.001"))
    b = plan_fingerprint(REG["regional_revenue"].build(
        spark, "/root/testdata/sf0.001"))
    assert a == b


def test_fingerprint_stable_across_lambda_counter(spark):
    """REGRESSION (r8): Spark names higher-order-function lambda
    variables with a SESSION-GLOBAL counter (x_1, x_3, ...), so the
    same HOF-bearing plan renders differently depending on how many
    lambda plans the session built before it. The normalization must
    erase that, or every documents/embeddings query's fingerprint
    depends on test execution order."""
    a = plan_fingerprint(REG["doc_lang_id"].build(
        spark, "/root/testdata/sf0.001"))
    # burn lambda counters with OTHER HOF-bearing plans
    for n in ("doc_quality_score", "knn_bruteforce_cosine"):
        REG[n].build(spark, "/root/testdata/sf0.001")
    b = plan_fingerprint(REG["doc_lang_id"].build(
        spark, "/root/testdata/sf0.001"))
    assert a == b


def test_fingerprint_distinguishes_plans(spark):
    fps = {
        plan_fingerprint(REG[n].build(spark, "/root/testdata/sf0.001"))
        for n in ("pricing_summary", "regional_revenue", "top_revenue_parts")
    }
    assert len(fps) == 3  # different plans, different digests


def test_fingerprint_ignores_host_parallelism(spark):
    """The spread loader (catalog.load_star_table_spread) repartitions
    to the session's default parallelism, so the same query's plan
    carries the host's core count. The fingerprint must not: the same
    registered query built at parallelism 4 and 8 digests the same,
    though the raw plans differ."""
    built = {}
    for n in (4, 8):
        with pinned_parallelism(spark, n):
            df = REG["media_near_dup_bucketed"].build(spark, SF)
            built[n] = (plan_fingerprint(df),
                        df._jdf.queryExecution().optimizedPlan().toString())
    assert built[4][1] != built[8][1]  # the count is in the plan
    assert built[4][0] == built[8][0]


def test_fingerprint_sees_added_repartition(spark):
    """Only the partition COUNT is normalized: adding a repartition
    (an exchange), or keying it, still moves the fingerprint."""
    from medallion_data_lake_spark.catalog import load_star_table

    t = load_star_table(spark, SF, "lineitem")
    plain = plan_fingerprint(t)
    rr = plan_fingerprint(t.repartition(4))
    keyed = plan_fingerprint(t.repartition(4, "l_orderkey"))
    assert rr == plan_fingerprint(t.repartition(8))
    assert keyed == plan_fingerprint(t.repartition(8, "l_orderkey"))
    assert len({plain, rr, keyed}) == 3
