"""Semantic deduplication (SemDeDup shape) over embedding clusters.

Properties the operator must provide:
- every input row comes back exactly once, annotated not filtered;
- planted near-copies (cosine ~1) collapse into one group with exactly
  one deterministic keeper (the min id);
- semantically unique docs are singleton groups and kept;
- the result is deterministic across invocations (seeded KMeans,
  min-id keep rule);
- cluster count scales with n/cluster_size, not a fixed constant.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from medallion_data_lake_spark.operators.ann import semantic_dedup

DIM = 32


def _corpus(spark, n_unique=120, n_dups_per=2, n_dup_groups=10, seed=3):
    """n_unique well-separated gaussian vectors; the first n_dup_groups
    of them each get n_dups_per near-copies (cosine ~0.999)."""
    rng = np.random.default_rng(seed)
    base = rng.standard_normal((n_unique, DIM))
    rows = [(i, [float(x) for x in base[i]]) for i in range(n_unique)]
    next_id = n_unique
    planted = []  # (dup_id, original_id)
    for g in range(n_dup_groups):
        for _ in range(n_dups_per):
            v = base[g] + 0.01 * rng.standard_normal(DIM)
            rows.append((next_id, [float(x) for x in v]))
            planted.append((next_id, g))
            next_id += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    return df, planted, next_id


def test_annotates_every_row_once(spark):
    df, _, total = _corpus(spark)
    out = semantic_dedup(df, threshold=0.9, cluster_size=32, seed=42)
    rows = out.collect()
    assert len(rows) == total
    assert sorted(r.vec_id for r in rows) == list(range(total))


def test_planted_dups_collapse_with_min_id_keeper(spark):
    df, planted, _ = _corpus(spark)
    out = semantic_dedup(df, threshold=0.9, cluster_size=32, seed=42)
    by_id = {r.vec_id: r for r in out.collect()}
    for dup_id, orig_id in planted:
        # the near-copy joins its original's group; the original (min
        # id in the group) is the keeper, the copy is not
        assert by_id[dup_id].group_id == orig_id, (dup_id, orig_id)
        assert not by_id[dup_id].is_kept
        assert by_id[orig_id].is_kept
    # exactly one keeper per group
    groups: dict[int, int] = {}
    for r in by_id.values():
        groups[r.group_id] = groups.get(r.group_id, 0) + (1 if r.is_kept else 0)
    assert all(v == 1 for v in groups.values())


def test_unique_docs_are_singleton_groups(spark):
    df, planted, total = _corpus(spark)
    dup_ids = {d for d, _ in planted} | {o for _, o in planted}
    out = semantic_dedup(df, threshold=0.9, cluster_size=32, seed=42)
    for r in out.collect():
        if r.vec_id not in dup_ids:
            assert r.group_id == r.vec_id
            assert r.is_kept


def test_deterministic_across_runs(spark):
    df, _, _ = _corpus(spark)
    a = semantic_dedup(df, threshold=0.9, cluster_size=32, seed=42)
    b = semantic_dedup(df, threshold=0.9, cluster_size=32, seed=42)
    ra = sorted(tuple(r) for r in a.collect())
    rb = sorted(tuple(r) for r in b.collect())
    assert ra == rb


def test_input_plan_evaluated_once(spark):
    """The input (often the whole upstream curation pipeline) must not be
    replayed per consumer: semantic_dedup persists it for the count +
    KMeans fit and checkpoints the bucketed frame before fanning out.
    An accumulator-ticking pandas UDF in the input plan counts actual
    row evaluations — the old shape replayed it ~5x."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    df, _, total = _corpus(spark)
    acc = spark.sparkContext.accumulator(0)

    @pandas_udf("long")
    def tick(s: pd.Series) -> pd.Series:
        acc.add(len(s))
        return s

    ticked = df.withColumn("vec_id", tick(F.col("vec_id")))
    out = semantic_dedup(ticked, threshold=0.9, cluster_size=32, seed=42)
    assert out.count() == total
    # one materialization into the persist (+ slack for a stray partial
    # re-read); decisively below the ~5 full replays of the old shape
    assert acc.value <= 2 * total, acc.value


def test_cluster_count_scales_with_n(spark):
    df, _, total = _corpus(spark)
    out = semantic_dedup(df, threshold=0.9, cluster_size=16, seed=42)
    n_clusters = out.select("cluster_id").distinct().count()
    # k = ceil(n / cluster_size); KMeans may leave a few cells empty but
    # must use far more than any fixed small constant
    assert n_clusters > total // 32


def test_fit_params_bounded_as_n_grows():
    """The round-3 verdict's one perf_weak finding: k ∝ n made KMeans
    training effectively quadratic. Both fit knobs must now have
    constant ceilings regardless of corpus size (mirrors the
    bits_for_cardinality bound test in test_ann_scale)."""
    from medallion_data_lake_spark.operators.ann import (
        SEMANTIC_K_CAP,
        SEMANTIC_MAX_FIT_ROWS,
        semantic_dedup_fit_params,
    )

    # small n: k tracks n/cluster_size exactly, fit uses everything
    assert semantic_dedup_fit_params(6_400, cluster_size=64) == (100, 6_400)
    # the k cap engages at n = cluster_size * k_cap = 6.4M
    prev_cost = 0
    for n in (10**7, 10**8, 10**10, 10**12):  # up past 100 TB of docs
        k, fit_rows = semantic_dedup_fit_params(n, cluster_size=64)
        assert k == SEMANTIC_K_CAP          # capped, not ∝ n
        assert fit_rows == SEMANTIC_MAX_FIT_ROWS  # sampled, not full-corpus
        cost = k * fit_rows                  # ∝ training cost: must be FLAT
        assert prev_cost in (0, cost)
        prev_cost = cost
    # explicit caps flow through
    assert semantic_dedup_fit_params(10**9, 64, k_cap=500, max_fit_rows=10_000) == (
        500,
        10_000,
    )


def test_sampled_fit_still_collapses_dups(spark):
    """With the fit input capped below the corpus size (sampled fit),
    planted near-copies must still collapse: assignment is over the FULL
    data, only training is sampled.

    The operator's EXACT contract is cluster-LOCAL: any planted pair
    that lands in the same cell MUST collapse with min-id keeper
    semantics.  The cell partition itself is approximate — a pair whose
    original sits within float-jitter of a KMeans boundary can straddle
    it (the documented SemDeDup trade-off; MLlib's fit sums partials in
    shuffle-fetch order, so boundary points flip at the ULP level
    run-to-run, and a sampled fit moves the boundaries further).  So we
    assert the exact in-cell contract for every pair plus a recall
    floor over the random fixture, not 100% boundary luck."""
    df, planted, total = _corpus(spark)
    out = semantic_dedup(
        df, threshold=0.9, cluster_size=32, seed=42, max_fit_rows=total // 2
    )
    by_id = {r.vec_id: r for r in out.collect()}
    assert len(by_id) == total
    collapsed = 0
    for dup_id, orig_id in planted:
        if by_id[dup_id].cluster_id == by_id[orig_id].cluster_id:
            # in-cell dedup is exact — no tolerance here
            assert by_id[dup_id].group_id == orig_id, (dup_id, orig_id)
            assert not by_id[dup_id].is_kept
            assert by_id[orig_id].is_kept
            collapsed += 1
    # boundary straddles must stay rare: >=90% of planted pairs share
    # a cell even with the fit trained on half the corpus
    assert collapsed >= 0.9 * len(planted), (collapsed, len(planted))


def test_persisted_codebook_reuse_matches_fit(spark, tmp_path):
    """fit_semantic_codebook + semantic_dedup(model=...) must equal the
    per-run-fit path: same seed/params -> the SAME codebook -> identical
    (cluster_id, group_id, is_kept) rows. The reuse path skips the
    count job and the KMeans fit entirely (the r12 amortization lever,
    SCALE.md round 12), and the model round-trips through disk."""
    from medallion_data_lake_spark.operators.ann import (
        fit_semantic_codebook,
        load_semantic_codebook,
    )

    df, _, _ = _corpus(spark)
    fitted = {
        tuple(r)
        for r in semantic_dedup(df, dim=DIM, cluster_size=16).collect()
    }
    path = str(tmp_path / "codebook")
    fit_semantic_codebook(df, path, cluster_size=16)
    model = load_semantic_codebook(path)
    reused = {
        tuple(r)
        for r in semantic_dedup(
            df, dim=DIM, cluster_size=16, model=model
        ).collect()
    }
    assert reused == fitted and len(reused) > 0


def test_codebook_reuse_through_curation_config(spark, tmp_path):
    """CurationConfig.semantic_codebook_path routes curate_corpus's
    semantic stage through the persisted codebook; the curated output
    must equal the per-run-fit config's."""
    from medallion_data_lake_spark.operators.ann import (
        fit_semantic_codebook,
    )
    from medallion_data_lake_spark.operators.curation_pipeline import (
        CurationConfig,
        curate_corpus,
    )
    from medallion_data_lake_spark.operators.embeddings import (
        embed_documents,
    )

    df, _, _ = _corpus(spark)
    # per-doc DISTINCT token sets: the hashing embedder then yields
    # well-separated vectors, so the dedup outcome is codebook-
    # independent (no near-dup pairs to split differently) and the
    # assertion isolates the CONFIG PLUMBING. Codebook-dependent
    # behavior itself is pinned by
    # test_persisted_codebook_reuse_matches_fit, where fit input and
    # reuse input are identical.
    docs = df.selectExpr(
        "vec_id as doc_id",
        "concat('alpha', vec_id, ' beta', vec_id, ' gamma', vec_id) as text",
        "'en' as lang", "'web' as source",
    )
    base = dict(semantic_from_text=True, embedding_dim=16)
    emb = embed_documents(docs, "doc_id", "text", 16, "vec_id", "embedding")
    path = str(tmp_path / "cb")
    fit_semantic_codebook(emb, path)

    cold = {r["doc_id"] for r in curate_corpus(
        docs, config=CurationConfig(**base))["curated"].collect()}
    warm = {r["doc_id"] for r in curate_corpus(
        docs, config=CurationConfig(**base, semantic_codebook_path=path)
    )["curated"].collect()}
    assert warm == cold and len(warm) > 0


def test_codebook_path_without_semantic_stage_is_refused(spark, tmp_path):
    """A configured codebook that silently never runs would read as
    'dedup happened' when it didn't — curate_corpus refuses the
    combination loudly."""
    import pytest

    from medallion_data_lake_spark.operators.curation_pipeline import (
        CurationConfig,
        curate_corpus,
    )

    docs = spark.createDataFrame(
        [(1, "a b c", "en", "web")], "doc_id long, text string, "
        "lang string, source string")
    with pytest.raises(ValueError, match="semantic stage is disabled"):
        curate_corpus(docs, config=CurationConfig(
            semantic_codebook_path=str(tmp_path / "cb")))


def test_codebook_provenance_validated_on_load(spark, tmp_path):
    """fit_semantic_codebook persists (dim, k, seed, embedder) as a
    provenance sidecar; load_semantic_codebook refuses a dim or
    embedder mismatch — a codebook from a different embedding space
    partitions this one arbitrarily while looking like successful
    dedup (r12 ADVICE item)."""
    import json
    import os

    import pytest

    from medallion_data_lake_spark.operators.ann import (
        fit_semantic_codebook,
        load_semantic_codebook,
    )

    df, _, _ = _corpus(spark)
    path = str(tmp_path / "cb")
    fit_semantic_codebook(df, path, cluster_size=16, embedder="enc-v1")

    meta = json.load(open(os.path.join(path, "provenance.json")))
    assert meta["dim"] == DIM and meta["embedder"] == "enc-v1"
    assert meta["seed"] == 42 and meta["k"] >= 2

    # matching expectations load fine
    m = load_semantic_codebook(path, expect_dim=DIM,
                               expect_embedder="enc-v1")
    assert len(m.clusterCenters()[0]) == DIM
    # dim mismatch is caught from the centroids themselves
    with pytest.raises(ValueError, match="dim"):
        load_semantic_codebook(path, expect_dim=DIM * 2)
    # embedder-space mismatch is caught from the sidecar
    with pytest.raises(ValueError, match="embedding space"):
        load_semantic_codebook(path, expect_embedder="other-enc-v9")
    # a codebook without the sidecar is refused, embedder check or not
    os.remove(os.path.join(path, "provenance.json"))
    with pytest.raises(ValueError, match="no provenance.json"):
        load_semantic_codebook(path, expect_dim=DIM)


def test_codebook_without_provenance_is_refused(spark, tmp_path):
    """A codebook directory without provenance.json (the format before
    the sidecar) is refused by name: its embedding space cannot be
    checked, and a same-dim codebook from another space would assign
    noise while looking like successful dedup."""
    import os

    import pytest

    from medallion_data_lake_spark.operators.ann import (
        fit_semantic_codebook,
        load_semantic_codebook,
    )

    df = spark.createDataFrame(
        [(i, [float(i % 2), 1.0, 0.0, float(i)]) for i in range(8)],
        "vec_id long, embedding array<double>")
    path = str(tmp_path / "cb")
    fit_semantic_codebook(df, path, cluster_size=4, embedder="enc-v1")
    load_semantic_codebook(path, expect_embedder="enc-v1")
    os.remove(os.path.join(path, "provenance.json"))
    with pytest.raises(ValueError, match="no provenance.json"):
        load_semantic_codebook(path)


def test_curation_config_rejects_wrong_dim_codebook(spark, tmp_path):
    """CurationConfig.semantic_codebook_path + embedding_dim mismatch
    must refuse before any assignment runs."""
    import pytest

    from medallion_data_lake_spark.operators.ann import (
        fit_semantic_codebook,
    )
    from medallion_data_lake_spark.operators.curation_pipeline import (
        CurationConfig,
        curate_corpus,
    )

    df, _, _ = _corpus(spark)  # DIM-wide vectors
    path = str(tmp_path / "cb")
    fit_semantic_codebook(df, path, cluster_size=16)

    docs = spark.createDataFrame(
        [(1, "alpha beta", "en", "web"), (2, "gamma delta", "en", "web")],
        "doc_id long, text string, lang string, source string")
    cfg = CurationConfig(semantic_from_text=True, embedding_dim=16,
                         semantic_codebook_path=path)
    with pytest.raises(ValueError, match="dim"):
        curate_corpus(docs, config=cfg)["curated"].collect()


def test_curation_embeddings_from_persisted_table(spark, tmp_path):
    """CurationConfig.embeddings_table routes the semantic stage
    through the persisted corpus embedding column
    (embeddings.materialize_corpus_embeddings) — curated output must
    equal the embed-in-pipeline config's (the r13 build-floor lever is
    pure amortization, never a semantics change), the materialization
    must be INCREMENTAL (second call embeds only new ids), and a
    dim-mismatched table must be refused."""
    import pytest

    from medallion_data_lake_spark.operators.curation_pipeline import (
        CurationConfig,
        curate_corpus,
    )
    from medallion_data_lake_spark.operators.embeddings import (
        materialize_corpus_embeddings,
    )

    docs = spark.createDataFrame(
        [(i, f"alpha{i} beta{i} gamma{i}", "en", "web") for i in range(40)],
        "doc_id long, text string, lang string, source string")
    table = str(tmp_path / "emb")
    rep = materialize_corpus_embeddings(spark, docs, table, dim=16)
    assert rep["n_embedded"] == 40 and rep["n_total"] == 40

    # incremental: re-materializing with 5 new docs embeds exactly 5
    more = spark.createDataFrame(
        [(i, f"alpha{i} beta{i} gamma{i}", "en", "web")
         for i in range(40, 45)],
        "doc_id long, text string, lang string, source string")
    rep2 = materialize_corpus_embeddings(
        spark, docs.unionByName(more), table, dim=16)
    assert rep2["n_embedded"] == 5 and rep2["n_total"] == 45

    # equality: embeddings-from-table == embed-in-pipeline
    base = dict(embedding_dim=16)
    cold = {r["doc_id"] for r in curate_corpus(
        docs, config=CurationConfig(**base, semantic_from_text=True)
    )["curated"].collect()}
    warm = {r["doc_id"] for r in curate_corpus(
        docs, config=CurationConfig(**base, embeddings_table=table)
    )["curated"].collect()}
    assert warm == cold and len(warm) > 0

    # provenance: a different-dim pipeline refuses the table
    with pytest.raises(ValueError, match="dim"):
        curate_corpus(docs, config=CurationConfig(
            embedding_dim=32, embeddings_table=table))
    # and a different-space re-materialization is refused
    with pytest.raises(ValueError, match="embedding space|materialized"):
        materialize_corpus_embeddings(spark, docs, table, dim=16,
                                      embedder="other-enc")


def test_embeddings_table_guards(spark, tmp_path):
    """The two r13 review guards: curation refuses an embeddings table
    that does not cover every input doc (uncovered docs would silently
    bypass semantic dedup), and materialization refuses to append into
    a version-bearing table that carries no provenance sidecar."""
    import os

    import pytest

    from medallion_data_lake_spark.operators.curation_pipeline import (
        CurationConfig,
        curate_corpus,
    )
    from medallion_data_lake_spark.operators.embeddings import (
        EMBEDDER_SIDECAR,
        materialize_corpus_embeddings,
    )

    docs = spark.createDataFrame(
        [(i, f"alpha{i} beta{i}", "en", "web") for i in range(20)],
        "doc_id long, text string, lang string, source string")
    table = str(tmp_path / "emb")
    materialize_corpus_embeddings(spark, docs, table, dim=16)

    # coverage: 5 extra docs missing from the table -> refuse loudly
    more = docs.unionByName(spark.createDataFrame(
        [(i, f"alpha{i} beta{i}", "en", "web") for i in range(20, 25)],
        "doc_id long, text string, lang string, source string"))
    with pytest.raises(ValueError, match="STALE vectors for 5"):
        curate_corpus(more, config=CurationConfig(
            embedding_dim=16, embeddings_table=table))

    # provenance: a committed table whose sidecar is gone is
    # unverifiable -> refuse the append
    os.remove(os.path.join(table, EMBEDDER_SIDECAR))
    with pytest.raises(ValueError, match="no _embedder.json"):
        materialize_corpus_embeddings(spark, more, table, dim=16)


def test_coverage_guard_catches_stale_text(spark, tmp_path):
    """Same ids, one text edited AFTER materialize: the coverage guard
    must refuse (the vector no longer matches the text it claims to
    represent), and a re-materialize clears it (r13 advice)."""
    import pytest

    from medallion_data_lake_spark.operators.curation_pipeline import (
        CurationConfig,
        curate_corpus,
    )
    from medallion_data_lake_spark.operators.embeddings import (
        materialize_corpus_embeddings,
    )

    docs = spark.createDataFrame(
        [(i, f"alpha{i} beta{i}", "en", "web") for i in range(10)],
        "doc_id long, text string, lang string, source string")
    table = str(tmp_path / "emb")
    materialize_corpus_embeddings(spark, docs, table, dim=16)

    edited = spark.createDataFrame(
        [(i, "edited body" if i == 4 else f"alpha{i} beta{i}",
          "en", "web") for i in range(10)],
        "doc_id long, text string, lang string, source string")
    cfg = CurationConfig(embedding_dim=16, embeddings_table=table)
    with pytest.raises(ValueError, match="STALE vectors for 1"):
        curate_corpus(edited, config=cfg)

    materialize_corpus_embeddings(spark, edited, table, dim=16)
    curate_corpus(edited, config=cfg)["curated"].collect()  # now clean


def test_external_embeddings_codebook_dim_from_frame(spark, tmp_path):
    """A caller-injected embeddings frame whose dim differs from the
    config default must validate the codebook against the FRAME's
    actual width (r13 advice: a valid dim-16 pair was spuriously
    rejected while cfg stayed at the 64 default)."""
    from medallion_data_lake_spark.operators.ann import (
        fit_semantic_codebook,
    )
    from medallion_data_lake_spark.operators.curation_pipeline import (
        CurationConfig,
        curate_corpus,
    )

    rng = np.random.default_rng(7)
    vecs = rng.standard_normal((30, 16))
    emb = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(30)],
        "vec_id long, embedding array<float>")
    path = str(tmp_path / "cb16")
    fit_semantic_codebook(emb, path, cluster_size=8)

    docs = spark.createDataFrame(
        [(i, f"document body {i}", "en", "web") for i in range(30)],
        "doc_id long, text string, lang string, source string")
    # embedding_dim stays the 64 default — the frame is dim 16; with
    # the fix this pair is accepted (dim derived from the frame)
    cfg = CurationConfig(semantic_codebook_path=path)
    out = curate_corpus(docs, embeddings=emb, config=cfg)
    assert out["curated"].count() == 30    # well-separated: none drop
