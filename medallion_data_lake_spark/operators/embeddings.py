"""Embedding generation — the text→vector stage of the training-data
pipeline (the step that feeds semantic dedup, ANN indexes, and
similarity search when embeddings don't arrive precomputed).

Same posture as the multimodal decoders (operators/multimodal.py): the
Spark-side contract is the deliverable — Arrow-batched pandas UDF, pure
map pass, no shuffle, fixed-width ``array<float>`` out — and the model
inside the kernel is a swap point. Here it is a DETERMINISTIC
feature-hashing embedder (token n-grams hashed into a signed unit
vector — literally the classic hashing trick, so similar texts get
similar vectors with no model download); a real sentence encoder
replaces ``_hash_embed`` and nothing else changes: batch size, schema,
partitioning, and every downstream consumer (semantic_dedup,
build_ivf_index, knn) are identical.

At 100 TB: embedding is the most expensive map stage a corpus pipeline
runs (GPU-bound in production). The shape that matters — few fat Arrow
batches per python worker (see multimodal's coalesce note), no driver
involvement, output column co-partitioned with the id for the join
back — is exactly what this module pins with tests.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

DEFAULT_DIM = 64  # matches the fixture embeddings table

# Identity of the embedding kernel, recorded as codebook provenance
# (ann.fit_semantic_codebook): a KMeans codebook is only meaningful in
# the embedding space it was fit on, and two spaces with the same dim
# load interchangeably without a fingerprint. Bump the version suffix
# if _hash_embed's math ever changes; a swapped-in real encoder should
# supply its own fingerprint (model name + revision).
HASHING_EMBEDDER_FINGERPRINT = "hashing-md5-unibigram-l2-v1"


def _hash_embed(text: str, dim: int) -> np.ndarray:
    """Signed feature-hashing of word uni+bigrams into R^dim, L2-normed.
    Deterministic across processes (md5, not Python hash())."""
    v = np.zeros(dim, dtype=np.float64)
    toks = text.lower().split()
    grams = toks + [f"{a} {b}" for a, b in zip(toks, toks[1:])]
    for g in grams:
        h = int.from_bytes(hashlib.md5(g.encode()).digest()[:8], "big")
        v[h % dim] += 1.0 if (h >> 63) & 1 else -1.0
    n = float(np.linalg.norm(v))
    return v / n if n > 0 else v


def text_embedder(dim: int = DEFAULT_DIM):
    """Build the pandas UDF for ``dim``-wide embeddings (UDF return
    types are static, so the width is bound at build time)."""

    @pandas_udf(T.ArrayType(T.DoubleType()))
    def embed(texts: pd.Series) -> pd.Series:
        return texts.fillna("").map(lambda t: _hash_embed(t, dim).tolist())

    return embed


def embed_documents(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    dim: int = DEFAULT_DIM,
    out_id_col: str = "vec_id",
    out_vec_col: str = "embedding",
) -> DataFrame:
    """(id, text) → (vec_id, embedding): the corpus-side embedding pass,
    shaped exactly like the fixture ``embeddings`` table so every
    consumer (semantic_dedup_docs, build_ivf_index, knn queries) takes
    the output unchanged. One Arrow-batched map stage, no shuffle."""
    return docs.select(
        F.col(id_col).alias(out_id_col),
        text_embedder(dim)(F.col(text_col)).alias(out_vec_col),
    )


EMBEDDER_SIDECAR = "_embedder.json"


def text_fingerprint(text_col) -> F.Column:
    """The text identity an embedding row was computed from: md5 of the
    raw text (JVM-side, no UDF). Stored beside each vector so
    incrementality can detect a CHANGED text under a stable id — an
    embedding is a pure function of (text, embedder), and an id-only
    anti-join would silently keep serving the old vector forever.

    NULL text coalesces to '' BEFORE hashing — the embedder itself
    treats NULL as '' (``text_embedder``'s fillna), and md5(NULL)=NULL
    would make the (id, fp) anti-join never match such a doc: it would
    re-embed every run and permanently fail the curation coverage
    guard (r14 review finding)."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.md5(F.coalesce(c, F.lit("")))


def materialize_corpus_embeddings(
    spark,
    docs: DataFrame,
    table: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    dim: int = DEFAULT_DIM,
    embedder: str | None = None,
) -> dict:
    """Maintain the corpus's embedding COLUMN as a versioned table —
    the amortization lever for everything embedding-derived (semantic
    dedup, ANN builds, knn): embedding is the most expensive map stage
    a corpus pipeline runs, and it is a pure function of (text,
    embedder), so re-running it per curation was pure waste (measured:
    the r12 codebook-reuse build still paid ~31.5s at the 50k clone,
    dominated by the re-embed; SCALE.md round 13 has the
    embeddings-from-column number).

    INCREMENTAL by (id, text fingerprint): each row carries
    ``text_fp = md5(text)`` (:func:`text_fingerprint`), and the
    anti-join that decides what to embed runs on BOTH columns — a new
    id is embedded and inserted, and a document whose TEXT changed
    under a stable id is re-embedded and upserted
    (:func:`operators.versioned.merge_into` on ``vec_id`` — file-
    granular, only key-overlapping files rewrite), so the table never
    silently serves a stale vector (r13 advice, medium). The slim read
    that feeds the anti-join is (vec_id, text_fp) only — no vectors.

    First call creates the table. Data files carry stats+bloom on
    ``vec_id`` so downstream point-reads prune, and an
    ``_embedder.json`` sidecar records (embedder fingerprint, dim) —
    the same provenance contract as the semantic codebook, enforced by
    the curation pipeline when it reads the column back (a table of
    vectors from a different embedder would silently poison every
    consumer).

    A table without the ``text_fp`` column (an older on-disk format)
    is refused: an id-only increment cannot detect stale texts.

    Returns {"n_embedded", "n_total", "version", "embedder", "dim"}.
    """
    import json
    import os

    from .versioned import commit, latest_version, merge_into, read_table

    fp = embedder or HASHING_EMBEDDER_FINGERPRINT
    sidecar = os.path.join(table, EMBEDDER_SIDECAR)
    existing_version = latest_version(table)
    docs_fp = docs.select(
        F.col(id_col),
        F.col(text_col),
        text_fingerprint(text_col).alias("text_fp"),
    )
    todo = docs_fp
    if existing_version is not None:
        if not os.path.exists(sidecar):
            # a version-bearing table with no provenance cannot prove
            # which space its vectors live in — appending would let a
            # mismatched call stamp the WHOLE table with its own
            # (embedder, dim) and launder mixed spaces past every
            # downstream check
            raise ValueError(
                f"table at {table} has committed versions but no "
                f"{EMBEDDER_SIDECAR} sidecar — it was not created by "
                "materialize_corpus_embeddings (or the sidecar was "
                "lost); refusing to append into an unverifiable "
                "embedding space. Re-materialize into a new table."
            )
        with open(sidecar) as fh:
            meta = json.load(fh)
        if meta.get("embedder") != fp or meta.get("dim") != dim:
            raise ValueError(
                f"embeddings table at {table} was materialized with "
                f"({meta.get('embedder')!r}, dim={meta.get('dim')}) "
                f"but this call embeds with ({fp!r}, dim={dim}) — "
                "mixed embedding spaces in one table would poison "
                "every consumer; use a new table or re-materialize"
            )
        existing = read_table(spark, table)
        if "text_fp" not in existing.columns:
            raise ValueError(
                f"embeddings table at {table} has no text_fp column (an "
                "older on-disk format whose stale vectors cannot be "
                "detected). Re-materialize into a new table."
            )
        have = existing.select(F.col("vec_id").alias(id_col), "text_fp")
        todo = docs_fp.join(have, [id_col, "text_fp"], "left_anti")
        n_existing = have.count()  # pruned 2-column scan
    else:
        # sidecar BEFORE the first commit: a crash between commit and a
        # trailing sidecar write would leave exactly the unverifiable
        # table the guard above refuses
        os.makedirs(table, exist_ok=True)
        with open(sidecar, "w") as fh:
            json.dump({"embedder": fp, "dim": dim}, fh)
    # one embed pass total: checkpoint the embedded rows so the count
    # and the commit don't each replay the corpus scan + anti-join +
    # Arrow embed stage
    new = todo.select(
        F.col(id_col).alias("vec_id"),
        text_embedder(dim)(F.col(text_col)).alias("embedding"),
        "text_fp",
    ).localCheckpoint(eager=True)
    n_new = new.count()
    version = existing_version
    if existing_version is None:
        n_existing = 0
        n_updates = 0
        res = commit(
            new, table, mode="append",
            stats_cols=("vec_id",), bloom_cols=("vec_id",),
        )
        version = res["version"] if isinstance(res, dict) else res
    elif n_new > 0:
        # changed ids REPLACE their old row; only genuinely-new ids
        # grow the table (one small job over the checkpointed batch —
        # never a post-commit full-table count, which the r13 shape
        # avoided and a per-micro-batch caller can't afford)
        n_updates = new.join(
            have.select(F.col(id_col).alias("_hid")),
            new["vec_id"] == F.col("_hid"),
        ).count()
        res = merge_into(spark, table, new, key="vec_id")
        version = res["version"] if isinstance(res, dict) else res
    else:
        n_updates = 0
    return {"n_embedded": int(n_new),
            "n_total": int(n_existing + n_new - n_updates),
            "version": version, "embedder": fp, "dim": dim}


def read_embedder_sidecar(table: str) -> dict | None:
    """The (embedder, dim) provenance a materialized table carries, or
    None for tables created outside materialize_corpus_embeddings."""
    import json
    import os

    sidecar = os.path.join(table, EMBEDDER_SIDECAR)
    if not os.path.exists(sidecar):
        return None
    with open(sidecar) as fh:
        return json.load(fh)
