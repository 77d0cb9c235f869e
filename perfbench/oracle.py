"""Result checks for the query workload: each gated query against its
DuckDB oracle by column names, row count and an order-insensitive hash
of canonicalised values (the comparison the engine's parity gate makes;
the canonicalisation mirrors tests/test_oracle_parity.py), and
``price_distribution_approx``, which has no oracle, within 2% of the
exact percentiles."""

from __future__ import annotations

import datetime
import hashlib
import math

import duckdb
import numpy as np

APPROX_REL_ERR = 0.02


def duck(sf_dir: str) -> duckdb.DuckDBPyConnection:
    from medallion_data_lake_spark.catalog import star_path
    from medallion_data_lake_spark.schemas import STAR_TABLES

    con = duckdb.connect()
    for t in STAR_TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{star_path(sf_dir, t)}'")
    return con


def _canon(v):
    if v is None:
        return None
    if isinstance(v, np.ndarray):
        return tuple(_canon(x) for x in v)
    if isinstance(v, np.generic):
        return _canon(v.item())
    if not isinstance(v, float) and v != v:  # pandas NaT
        return None
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else v + 0.0
    if isinstance(v, datetime.datetime):
        if v.time() == datetime.time(0, 0):
            return v.date().isoformat()
        return v.isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if hasattr(v, "to_pydatetime"):
        return _canon(v.to_pydatetime())
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    if isinstance(v, (bool, int, str, bytes)):
        return v
    return str(v)


def fingerprint(pdf) -> tuple[tuple[str, ...], int, str]:
    """(sorted column names, row count, order-insensitive value hash)."""
    cols = tuple(sorted(pdf.columns))
    rows = sorted(repr(tuple(_canon(v) for v in r))
                  for r in pdf.reindex(columns=list(cols)).itertuples(index=False, name=None))
    h = hashlib.sha256("\n".join(rows).encode()).hexdigest()
    return cols, len(rows), h


def oracle_fingerprints(sf_dir: str, specs: dict) -> dict:
    con = duck(sf_dir)
    try:
        return {name: fingerprint(con.sql(spec.oracle).df())
                for name, spec in specs.items() if spec.oracle is not None}
    finally:
        con.close()


def approx_quantiles_ok(pdf, sf_dir: str) -> bool:
    """``price_distribution_approx`` (t-digest p50/p90 of
    ``l_extendedprice`` per return flag) within 2% of the exact
    interpolated percentiles, per flag."""
    con = duck(sf_dir)
    try:
        exact = {r[0]: r[1:] for r in con.sql(
            "SELECT l_returnflag, quantile_cont(l_extendedprice, 0.5), "
            "quantile_cont(l_extendedprice, 0.9) FROM lineitem GROUP BY 1"
        ).fetchall()}
    finally:
        con.close()
    approx = {r.l_returnflag: (r.p50_price, r.p90_price) for r in pdf.itertuples()}
    return set(approx) == set(exact) and all(
        abs(a - e) <= APPROX_REL_ERR * abs(e)
        for flag, pair in exact.items() for a, e in zip(approx[flag], pair))
