"""Store serving workload: HTTP requests against the exported SQL store.

Set-up builds a BM25 index (with bigrams) over the sf0.1 documents and
an IVF index over their embeddings, exports both to an embedded Derby
store, and starts ``serve_http_background`` with the store armed. One
operation is one HTTP request from a single closed-loop client; the mix
is 50% ``/search`` (1-3 terms drawn by Zipf over the corpus's terms
ranked by frequency, term counts in turn, no term set asked twice), 20% ``/phrase``, 20%
``/similar`` and 10% ``/hybrid``, drawn and ordered by the seed. In every run one seeded answered request per route is
re-asked of the lake tier (``bm25_search``, ``phrase_search``,
``ann.search_index``, ``hybrid_search``) and must match.

A traced run also builds the lake after the measured window and the
checks: the bronze -> silver -> gold pipeline, reconcile and the curation
of a small corpus (perfbench/lake.py), with its own checks. It is the
write path's per-layer split; untraced runs leave it out to keep a run
inside the time budget, and its placement after the window leaves the
serving figures and set-up of both kinds of run alike.
"""

from __future__ import annotations

import collections
import itertools
import json
import os
import random
import time
import urllib.error
import urllib.request
from concurrent.futures import ThreadPoolExecutor

import pyarrow.parquet as pq

import harness
import lake

# the mix, as one block of ten requests that is reshuffled every block,
# so every run serves exactly these shares and only the order varies
ROUTE_BLOCK = ("/search",) * 5 + ("/phrase",) * 2 + ("/similar",) * 2 + ("/hybrid",)
ROUTES = ("/search", "/phrase", "/similar", "/hybrid")
K = 10
N_PROBES = 4
K_MAX = 20
WARM_REQUESTS = 20
DRAWS = 20  # Zipf draws tried for a term set not asked before
STORE_METHODS = {"bm25": "search", "phrase": "phrase", "similar": "similar",
                 "hybrid": "hybrid"}


class TimedStore:
    """Forwards to a ``ServingStore`` and times each top-level request
    method; reads the store's public ``last_bm25_mode`` after bm25."""

    def __init__(self, store):
        self._store = store
        self.calls: list[tuple[str, float, float, str | None]] = []

    def __getattr__(self, name):
        attr = getattr(self._store, name)
        route = STORE_METHODS.get(name)
        if route is None:
            return attr

        def timed(*a, **kw):
            t0 = time.perf_counter()
            try:
                return attr(*a, **kw)
            finally:
                mode = self._store.last_bm25_mode if route == "search" else None
                self.calls.append((route, t0, time.perf_counter(), mode))
        return timed


class Requests:
    """The seeded request mix."""

    def __init__(self, seed: int, texts: list[str], n_vec: int):
        self.rng = random.Random(seed)
        self.texts = texts
        self.n_vec = n_vec
        # popularity follows the corpus: the most frequent term is the
        # most often asked, ties broken by the term
        freq = collections.Counter(w for t in texts for w in t.split())
        self.vocab = sorted(freq, key=lambda w: (-freq[w], w))
        self.zipf = [1.0 / (r + 1) for r in range(len(self.vocab))]
        self._block: list[str] = []
        self._asked: set[tuple[str, ...]] = set()
        self._n_terms = itertools.cycle((1, 2, 3))

    def _terms(self) -> list[str]:
        """1-3 Zipf-drawn terms, a set not asked before in this run when
        one turns up within a few draws. Term counts take turns and
        repeats are avoided because a request's cost depends mostly on
        its term count and on its terms: the store caches nothing, and
        this way a run's cost does not hinge on how often it happened to
        draw one term count or the few head sets."""
        n = next(self._n_terms)
        for _ in range(DRAWS):
            terms = tuple(sorted(set(self.rng.choices(self.vocab, self.zipf, k=n))))
            if terms not in self._asked:
                break
        self._asked.add(terms)
        return list(terms)

    def next(self) -> tuple[str, dict]:
        if not self._block:
            self._block = self.rng.sample(ROUTE_BLOCK, len(ROUTE_BLOCK))
        route = self._block.pop()
        if route == "/search":
            return route, {"terms": self._terms(), "k": K}
        if route == "/phrase":
            words = self.rng.choice(self.texts).split()
            n = self.rng.randint(2, 3)
            at = self.rng.randrange(0, len(words) - n + 1)
            return route, {"phrase": words[at:at + n], "k": 100}
        if route == "/similar":
            return route, {"vec_id": self.rng.randrange(self.n_vec), "k": K}
        return route, {"terms": self._terms(), "vec_id": self.rng.randrange(self.n_vec),
                       "k": K}


def _post(base: str, route: str, body: dict) -> tuple[int, dict | None]:
    req = urllib.request.Request(base + route, data=json.dumps(body).encode(),
                                 headers={"Content-Type": "application/json"})
    try:
        with urllib.request.urlopen(req, timeout=60) as r:
            return r.status, json.loads(r.read())
    except urllib.error.HTTPError as e:
        return e.code, None


def _lake_answer(spark, route, body, idx, ivf, docs, emb):
    """The same request answered by the lake tier, shaped like the
    store's rows (the comparison tests/test_serving_store.py makes)."""
    from pyspark.sql import functions as F

    from medallion_data_lake_spark.operators.ann import search_index
    from medallion_data_lake_spark.operators.hybrid import hybrid_search
    from medallion_data_lake_spark.operators.inverted_index import (
        bm25_search,
        phrase_search,
    )

    if route == "/search":
        return [(r["doc_id"], r["n_terms_matched"], r["score"])
                for r in bm25_search(spark, idx, body["terms"], k=body["k"]).collect()]
    if route == "/phrase":
        lake, _ = phrase_search(spark, idx, docs, body["phrase"])
        return sorted((r["doc_id"], r["n_matches"]) for r in lake.collect())
    if route == "/similar":
        q = emb.filter(F.col("vec_id") == body["vec_id"])
        probe = search_index(spark, ivf, q, n_probes=N_PROBES, k=body["k"])
        return sorted(((r["cand_id"], r["rank"]) for r in probe.collect()),
                      key=lambda t: t[1])
    return [(r["doc_id"], r["kw_rank"], r["vec_rank"], r["rrf_score"])
            for r in hybrid_search(spark, idx, emb, body["terms"], body["vec_id"],
                                   k=body["k"], n_per_branch=K_MAX, vec_index=ivf,
                                   n_probes=N_PROBES).collect()]


def _same(route: str, k: int, store_rows: list, lake_rows: list) -> bool:
    got = [tuple(r) for r in store_rows]
    if route == "/phrase":  # the store caps at k rows, lowest doc ids first
        return sorted(got) == lake_rows[:len(got)] and len(got) == min(k, len(lake_rows))
    if route == "/similar":
        return got == lake_rows
    if len(got) != len(lake_rows):
        return False
    n_exact = 2 if route == "/search" else 3
    tol = 1e-9 if route == "/search" else 1e-15
    return all(g[:n_exact] == tuple(l[:n_exact]) and abs(g[n_exact] - l[n_exact]) <= tol
               for g, l in zip(got, lake_rows))


def _timed_setup(ctx, name: str, fn):
    with ctx.tracer.span(name), ctx.probe.tagged() as tag:
        out = fn()
    ctx.probe.collect(tag)
    return out


def run(ctx) -> dict:
    from medallion_data_lake_spark.operators.ann import build_ivf_index
    from medallion_data_lake_spark.operators.inverted_index import create_bm25_index
    from medallion_data_lake_spark.serving import ServingLayer
    from medallion_data_lake_spark.serving_http import serve_http_background
    from medallion_data_lake_spark.serving_store import (
        ServingStore,
        export_search_store,
        export_vector_store,
    )

    spark = ctx.spark
    root = os.path.join(ctx.work, "store")
    idx, ivf = os.path.join(root, "bm25"), os.path.join(root, "ivf")
    db = os.path.join(root, "servingdb")
    url = f"jdbc:derby:{db};create=true"
    docs_path = os.path.join(ctx.star_dir, "documents.parquet")
    emb_path = os.path.join(ctx.star_dir, "embeddings.parquet")

    # set-up: index the documents and the embeddings, export both to the
    # store, start serving, warm up
    t_setup = time.perf_counter()
    docs = spark.read.parquet(docs_path).select("doc_id", "text")
    emb = spark.read.parquet(emb_path).select("vec_id", "embedding")
    _timed_setup(ctx, "inverted_index.build", lambda: create_bm25_index(
        spark, docs, idx, n_files=ctx.cores, bigrams=True))
    _timed_setup(ctx, "ann.ivf_build", lambda: build_ivf_index(emb, ivf))
    _timed_setup(ctx, "serving_store.export_search",
                 lambda: export_search_store(spark, idx, url, docs=docs))
    _timed_setup(ctx, "serving_store.export_vector", lambda: export_vector_store(
        spark, url, vec_index=ivf, k_max=K_MAX, n_probes=N_PROBES))
    phases = {"index_export_s": time.perf_counter() - t_setup}
    real = ServingStore(spark, url)
    store = TimedStore(real) if ctx.tracer.enabled else real
    server, thread = serve_http_background(ServingLayer(spark), serving_store=store)
    try:
        host, port = server.server_address
        base = f"http://{host}:{port}"
        texts = pq.read_table(docs_path, columns=["text"]).column("text").to_pylist()
        mix = Requests(ctx.seed, texts, pq.read_metadata(emb_path).num_rows)
        for _ in range(WARM_REQUESTS):
            _post(base, *mix.next())
        setup_s = time.perf_counter() - t_setup
        if ctx.tracer.enabled:
            store.calls.clear()

        stats0 = dict(real.bm25_stats)
        lat: list[float] = []
        sent: list[tuple[str, dict, int, dict | None, float, float]] = []
        failed = 0
        deadline = harness.Deadline(ctx.seconds)
        m0 = time.perf_counter()
        while deadline.left() > 0:
            route, body = mix.next()
            t0 = time.perf_counter()
            try:
                status, out = _post(base, route, body)
            except OSError as exc:
                ctx.log(f"{route}: {exc}")
                status, out = -1, None
            t1 = time.perf_counter()
            sent.append((route, body, status, out, t0, t1))
            if status != 200 or out is None or out.get("engine") != "store":
                failed += 1
                continue
            lat.append(t1 - t0)
        measured_s = time.perf_counter() - m0
        paths = {k: v - stats0[k] for k, v in real.bm25_stats.items()}

        # correctness: one seeded answered request per route, re-asked of
        # the lake tier
        c0 = time.perf_counter()
        pick = random.Random(ctx.seed + 1)
        checked = []
        for r in ROUTES:
            answered = [x for x in sent if x[0] == r and x[2] == 200]
            if not answered:
                ctx.log(f"{r}: no answered request to check")
                continue
            checked.append(pick.choice(answered))
        # the lake-tier answers are independent Spark jobs outside every
        # measured figure; asked concurrently, they finish sooner
        with ThreadPoolExecutor(len(ROUTES)) as pool:
            answers = list(pool.map(
                lambda x: _lake_answer(spark, x[0], x[1], idx, ivf, docs, emb), checked))
        for (route, body, _, out, _, _), lake_rows in zip(checked, answers):
            if ctx.inject_fault:  # a wrong expectation the check must catch
                lake_rows = [(-1,) * 4] + lake_rows
            if not _same(route, body["k"], out["rows"], lake_rows):
                ctx.log(f"{route}: store answer != lake answer for {body}: "
                        f"store {out['rows']} lake {lake_rows}")
                failed += 1
        phases["check_s"] = time.perf_counter() - c0
    finally:
        server.shutdown()
        server.server_close()
        thread.join(timeout=30)
        real.close()
    attempted = len(sent)
    built = {"detail": {}, "layers": {}}
    if ctx.tracer.enabled:  # the write path, after the measured window
        t0 = time.perf_counter()
        built = lake.build(ctx, os.path.join(root, "lake"))
        built["detail"]["build_cycle_s"] = time.perf_counter() - t0
        attempted += 1
        for e in built["errors"]:
            ctx.log(f"lake build: {e}")
        failed += bool(built["errors"])
    db_bytes = harness.dir_bytes(db)[0]
    corpus_bytes = os.path.getsize(docs_path) + os.path.getsize(emb_path)

    detail = {
        "samples": len(lat),
        "request_p50_ms": harness.median(lat) * 1e3,
        "request_tail_ms": harness.tail([x * 1e3 for x in lat]),
        "requests_per_s": len(lat) / measured_s if measured_s else 0.0,
        "store_bytes_per_corpus_byte": db_bytes / corpus_bytes,
        "routes": {r: sum(1 for s in sent if s[0] == r) for r in ROUTES},
        "checked_requests": len(checked),
        "bm25_paths": paths,
        "route_p50_ms": {r: harness.median([t1 - t0 for rr, _, st, _, t0, t1 in sent
                                             if rr == r and st == 200]) * 1e3
                         for r in ROUTES},
        **built["detail"], **phases,
    }
    layers = {}
    if ctx.tracer.enabled:
        layers = {**built["layers"], **ctx.probe.metrics(),
                  **_layers(ctx.tracer, store.calls, sent, db_bytes)}
        detail["route_tails_ms"] = {
            route: harness.tail([(e - s) * 1e3 for r, s, e, _ in store.calls if r == route])
            for route in STORE_METHODS.values()}
    return {
        "setup_extra_s": setup_s,
        "attempted": attempted,
        "failed": failed,
        "op_latencies": lat,
        "measured_s": measured_s,
        "detail": detail,
        "layers": layers,
    }


def _layers(tracer, calls, sent, db_bytes: int) -> dict:
    out = {
        "inverted_index.build_s": tracer.total("inverted_index.build"),
        "ann.ivf_build_s": tracer.total("ann.ivf_build"),
        "serving_store.export_search_s": tracer.total("serving_store.export_search"),
        "serving_store.export_vector_s": tracer.total("serving_store.export_vector"),
        "serving_store.db_bytes": db_bytes,
    }
    for route in ("search", "phrase", "similar", "hybrid"):
        ms = [(e - s) * 1e3 for r, s, e, _ in calls if r == route]
        out[f"serving_store.{route}_p50_ms"] = harness.median(ms)
        out[f"serving_store.{route}_tail_ms"] = harness.tail(ms)["value"] if ms else 0.0
    bm = [((e - s) * 1e3, m) for r, s, e, m in calls if r == "search"]
    pruned = [t for t, m in bm if m == "pruned"]
    out["serving_store.bm25_pruned_share"] = len(pruned) / len(bm) if bm else 0.0
    out["serving_store.bm25_pruned_p50_ms"] = harness.median(pruned)
    out["serving_store.bm25_full_p50_ms"] = harness.median([t for t, m in bm if m == "full"])
    # client latency minus the store call it contains
    overhead = []
    for route, _, status, _, t0, t1 in sent:
        inner = [e - s for _, s, e, _ in calls if t0 <= s and e <= t1]
        if status == 200 and inner:
            overhead.append((t1 - t0 - sum(inner)) * 1e3)
    out["serving_http.overhead_p50_ms"] = harness.median(overhead)
    out["serving_http.overhead_tail_ms"] = harness.tail(overhead)["value"] if overhead else 0.0
    return out
