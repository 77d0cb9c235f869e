"""Input generators for the benchmark.

The tables the workloads read are made here: the ten star-schema tables
the query registry reads and the serving workload indexes, and the
bronze JSON envelopes the pipeline ingests. The star tables are a fixed
synthetic fixture, made from one generator seed like the engine's own
test fixtures, so a run's figures do not depend on which corpus its seed
drew; ``--seed`` draws the workload over them (query order, the request
stream) and the bronze envelopes. The same parameters always give the
same bytes, and every generated set carries a digest file so a cached
copy is verified before it is reused.

The star tables follow the row counts, value domains and distributions
of the engine's sf-scaled fixtures (TESTDATA.md): TPC-H-ish keys and
codes with line items drawn independently of their orders, documents of
10-100 words drawn uniformly from a 30-word vocabulary of which 5% are
near duplicates (an earlier document plus the token ``dup``), 64-dim
unit embeddings with labels drawn independently of the vectors, and a
month of JSON-prop events.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
NEAR_DUP_TOKEN = "dup"
LANGS = ("en", "zh", "de", "fr", "es")
LANG_P = (0.41, 0.15, 0.14, 0.15, 0.15)
SEGMENTS = ("MACHINERY", "AUTOMOBILE", "FURNITURE", "BUILDING", "HOUSEHOLD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_TYPES = ("SMALL", "MEDIUM", "LARGE", "ECONOMY", "STANDARD", "PROMO")
PART_ADJ = ("hot", "old", "red", "small", "new", "cold", "blue", "large")
PART_NOUN = ("bolt", "plate", "gear", "ring", "rod", "anvil", "widget", "nut")
EVENT_TYPES = ("view", "click", "purchase", "signup", "error")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
EMB_DIM = 64
FIXTURE_SEED = 42  # the star tables' generator seed
DIGEST_FILE = "DIGEST.json"


def _digest_dir(path: str) -> str:
    h = hashlib.sha256()
    for root, dirs, files in os.walk(path):
        dirs.sort()
        for name in sorted(files):
            if name == DIGEST_FILE:
                continue
            full = os.path.join(root, name)
            h.update(os.path.relpath(full, path).encode())
            with open(full, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def cached(out_dir: str, params: dict, make) -> str:
    """Return ``out_dir`` holding ``make(out_dir)``'s output for
    ``params``; reuse a cached copy only when its recorded parameters
    match and its bytes still hash to the recorded digest."""
    stamp = os.path.join(out_dir, DIGEST_FILE)
    if os.path.exists(stamp):
        with open(stamp) as fh:
            rec = json.load(fh)
        if rec.get("params") == params and rec.get("sha256") == _digest_dir(out_dir):
            os.utime(out_dir)  # most recently used, for the cache pruning
            return out_dir
    shutil.rmtree(out_dir, ignore_errors=True)
    tmp = out_dir + ".partial"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    make(tmp)
    with open(os.path.join(tmp, DIGEST_FILE), "w") as fh:
        json.dump({"params": params, "sha256": _digest_dir(tmp)}, fh)
    os.replace(tmp, out_dir)
    return out_dir


# ---------------------------------------------------------------------------
# star schema (the query registry's ten tables)
# ---------------------------------------------------------------------------

def _ts(base: dt.datetime, seconds: np.ndarray) -> pa.Array:
    us = int(base.replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000)
    return pa.array(us + (seconds * 1_000_000).astype(np.int64), pa.timestamp("us"))


def _money(rng, lo, hi, n) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng, n: int) -> pa.Table:
    vocab = np.array(VOCAB)
    lens = rng.integers(10, 101, n)
    text = [" ".join(vocab[rng.integers(0, len(vocab), k)]) for k in lens]
    # near duplicates: an earlier document with the token "dup" appended
    # (a copy of a copy carries it twice), so the dedup and LSH queries
    # find pairs and two copies of one source are exact duplicates
    for i in np.sort(rng.choice(np.arange(1, n), n // 20, replace=False)):
        text[i] = text[int(rng.integers(0, i))] + " " + NEAR_DUP_TOKEN
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(text, pa.string()),
        "lang": pa.array(np.array(LANGS)[rng.choice(len(LANGS), n, p=LANG_P)]),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n)]),
        "n_chars": pa.array([len(t) for t in text], pa.int64()),
    })


def _embeddings(rng, n: int) -> pa.Table:
    v = rng.standard_normal((n, EMB_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })


def make_star(out_dir: str, seed: int, sf: float) -> None:
    rng = np.random.default_rng([seed, 1])
    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_ev = int(1_000_000 * sf)
    n_users = int(15_000 * sf)
    i32, i64 = pa.int32(), pa.int64()
    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), i32),
        "r_name": pa.array(REGIONS),
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), i32),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25) % 5, i32),
    })
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]),
    })
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    pk = np.arange(n_part)
    names = [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
             zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))]
    retail = np.round(900.0 + (pk % 1000) / 10.0, 2)
    tables["part"] = pa.table({
        "p_partkey": pa.array(pk, i64),
        "p_name": pa.array(names),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(np.array(PART_TYPES)[rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": retail,
    })
    day = 86_400
    odays = rng.integers(0, 2405, n_ord)  # 1995-01-01 .. 2001-08-01
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": pa.array(np.array(["O", "F", "P"])[rng.integers(0, 3, n_ord)]),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _ts(dt.datetime(1995, 1, 1), odays * day),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]),
    })
    # four line items per order on average, each drawn independently:
    # order key, line number, price and ship date are uncorrelated
    n_li = 4 * n_ord
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": pa.array(np.array(["N", "A", "R"])[rng.integers(0, 3, n_li)]),
        "l_linestatus": pa.array(np.array(["O", "F"])[rng.integers(0, 2, n_li)]),
        "l_shipdate": _ts(dt.datetime(1995, 1, 2), rng.integers(0, 2499, n_li) * day),
    })
    ev_s = np.sort(rng.uniform(0, 30 * day, n_ev))
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": _ts(dt.datetime(2024, 1, 1), ev_s),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), i64),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)]),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    })
    tables["documents"] = _documents(rng, int(50_000 * sf))
    tables["embeddings"] = _embeddings(rng, int(20_000 * sf))
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))


def star_dir(cache_root: str, sf: float) -> str:
    params = {"kind": "star", "seed": FIXTURE_SEED, "sf": sf, "v": 2}
    return cached(os.path.join(cache_root, f"star_sf{sf}"), params,
                  lambda d: make_star(d, FIXTURE_SEED, sf))


# ---------------------------------------------------------------------------
# bronze envelopes (the pipeline's input)
# ---------------------------------------------------------------------------

def _iso(rng, n: int, start=dt.datetime(2024, 1, 1), days: int = 60) -> list[str]:
    secs = rng.integers(0, days * 86_400, n)
    return [(start + dt.timedelta(seconds=int(s))).strftime("%Y-%m-%d %H:%M:%S")
            for s in secs]


def make_bronze(out_dir: str, seed: int, n_payments: int,
                dup_share: float, corrupt_share: float) -> dict:
    """Write five bronze tables of JSON-line envelopes and return what a
    correct pipeline must report about them.

    A ``dup_share`` of envelopes are re-deliveries of an earlier key
    (same payload, later timestamp: at-least-once delivery), and a
    ``corrupt_share`` of lines are truncated JSON. Payment amounts are
    whole cents and never negative, so bronze and silver totals agree
    exactly."""
    rng = np.random.default_rng([seed, 2])
    n_cust = max(5, n_payments // 40)
    n_film = max(3, n_payments // 200)
    n_inv = max(3, n_payments // 50)
    n_rent = n_payments
    rows: dict[str, list[dict]] = {}
    rows["customer"] = [
        {"customer_id": str(i), "store_id": str(i % 2 + 1), "first_name": f"F{i}",
         "last_name": f"L{i}", "email": f"  c{i}@x.com ", "address_id": str(i),
         "active": ("1", "true", "0")[i % 3], "create_date": c, "last_update": c}
        for i, c in zip(range(1, n_cust + 1), _iso(rng, n_cust))
    ]
    rows["film"] = [
        {"film_id": str(i), "title": f" FILM {i} ", "description": "d",
         "release_year": "2006", "language_id": "1",
         "rental_duration": str(3 + i % 5), "rental_rate": f"{0.99 + i % 5:.2f}",
         "length": str(80 + i % 90), "replacement_cost": "19.99",
         "rating": ("G", "PG", "R")[i % 3], "special_features": "Trailers",
         "last_update": "2024-01-01 00:00:00"}
        for i in range(1, n_film + 1)
    ]
    rows["inventory"] = [
        {"inventory_id": str(i), "film_id": str(i % n_film + 1),
         "store_id": str(i % 2 + 1), "last_update": "2024-01-01 00:00:00"}
        for i in range(1, n_inv + 1)
    ]
    rdates = _iso(rng, n_rent)
    rcust = rng.integers(1, n_cust + 1, n_rent)
    rinv = rng.integers(1, n_inv + 1, n_rent)
    rows["rental"] = [
        {"rental_id": str(i + 1), "rental_date": d, "inventory_id": str(inv),
         "customer_id": str(c), "return_date": d, "staff_id": "1",
         "last_update": d}
        for i, (d, c, inv) in enumerate(zip(rdates, rcust, rinv))
    ]
    cents = rng.integers(99, 1200, n_payments)
    rows["payment"] = [
        {"payment_id": str(i + 1), "customer_id": str(c), "staff_id": "1",
         "rental_id": str(i + 1), "amount": f"{a / 100:.2f}",
         "payment_date": d, "last_update": d}
        for i, (a, c, d) in enumerate(zip(cents, rcust, rdates))
    ]
    expect: dict = {"silver_rows": {}, "bronze_clean": {}, "corrupt_rows": {}}
    redelivered: dict[str, np.ndarray] = {}
    for table, recs in rows.items():
        n = len(recs)
        n_dup = int(n * dup_share)
        n_bad = int(n * corrupt_share)
        dups = redelivered[table] = rng.integers(0, n, n_dup)
        lines = [json.dumps({"table": table, "operation": "INSERT",
                             "timestamp": "2024-03-01T00:00:00", "data": r})
                 for r in recs]
        lines += [json.dumps({"table": table, "operation": "UPDATE",
                              "timestamp": "2024-03-02T00:00:00",
                              "data": recs[j]}) for j in dups]
        lines += [lines[j][: len(lines[j]) // 2] for j in rng.integers(0, n, n_bad)]
        order = rng.permutation(len(lines))
        d = os.path.join(out_dir, table, "year=2024", "month=3", "day=1")
        os.makedirs(d)
        for part in range(4):
            with open(os.path.join(d, f"part-{part}.json"), "w") as fh:
                fh.write("\n".join(lines[k] for k in order[part::4]) + "\n")
        expect["silver_rows"][table] = n
        expect["bronze_clean"][table] = n + n_dup
        expect["corrupt_rows"][table] = n_bad
    expect["payment_bronze_amount"] = round(
        (int(cents.sum()) + int(cents[redelivered["payment"]].sum())) / 100, 2)
    expect["payment_silver_amount"] = round(int(cents.sum()) / 100, 2)
    return expect


def bronze_dir(cache_root: str, seed: int, n_payments: int,
               dup_share: float, corrupt_share: float) -> tuple[str, dict]:
    params = {"kind": "bronze", "seed": seed, "n_payments": n_payments,
              "dup": dup_share, "corrupt": corrupt_share, "v": 1}
    out = os.path.join(cache_root, f"bronze_{n_payments}_seed{seed}")

    def make(d):
        expect = make_bronze(os.path.join(d, "bronze"), seed, n_payments,
                             dup_share, corrupt_share)
        with open(os.path.join(d, "expect.json"), "w") as fh:
            json.dump(expect, fh)

    cached(out, params, make)
    with open(os.path.join(out, "expect.json")) as fh:
        return os.path.join(out, "bronze"), json.load(fh)
