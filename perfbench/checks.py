"""Output checks: Spark results against DuckDB over the same Parquet.

Normalisation follows the engine's oracle harness: columns sorted by
name, rows sorted by every column, cells compared strictly (exact for
integers, strings, timestamps and decimals; floats equal within a
relative/absolute 1e-12, NaN equal to NaN and to NULL). A result that
passes is summarised by a row count and an order-insensitive
fingerprint, which is also what entries without an oracle are checked
against (``fingerprints.json``).
"""

from __future__ import annotations

import decimal
import hashlib
import json
import math
import os

import duckdb
import numpy as np
import pandas as pd

from nyc_taxi_data_warehouse_spark.schema import TESTDATA_TABLES

FINGERPRINTS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fingerprints.json")


def duck_catalog(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def _cell(v):
    if isinstance(v, pd.Timestamp):
        return v.to_pydatetime()
    if isinstance(v, np.ndarray):
        return tuple(_cell(x) for x in v.tolist())
    if isinstance(v, (list, tuple)):
        return tuple(_cell(x) for x in v)
    if isinstance(v, np.generic):
        return v.item()
    return v


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(_cell)
    if len(df):
        df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def _null(v) -> bool:
    return v is None or v is pd.NaT or (isinstance(v, float) and math.isnan(v))


def cells_equal(a, b) -> bool:
    a, b = _cell(a), _cell(b)
    if _null(a) or _null(b):
        return _null(a) and _null(b)
    if isinstance(a, decimal.Decimal) or isinstance(b, decimal.Decimal):
        try:
            return decimal.Decimal(str(a)) == decimal.Decimal(str(b))
        except decimal.InvalidOperation:
            return False
    if isinstance(a, float) or isinstance(b, float):
        try:
            return a == b or math.isclose(a, b, rel_tol=1e-12, abs_tol=1e-12)
        except TypeError:
            return False
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(cells_equal(x, y) for x, y in zip(a, b))
    return a == b


def compare(spark_pd: pd.DataFrame, duck_pd: pd.DataFrame) -> str | None:
    """None when the results match, else the first difference."""
    sp, du = normalize(spark_pd), normalize(duck_pd)
    if list(sp.columns) != list(du.columns):
        return f"columns spark={list(sp.columns)} duck={list(du.columns)}"
    if len(sp) != len(du):
        return f"row count spark={len(sp)} duck={len(du)}"
    for col in sp.columns:
        for i, (a, b) in enumerate(zip(sp[col].tolist(), du[col].tolist())):
            if not cells_equal(a, b):
                return f"{col} row {i}: spark={a!r} duck={b!r}"
    return None


def fingerprint(df: pd.DataFrame) -> tuple[int, str]:
    """(row count, order-insensitive digest): per-row md5 of the
    normalised cells, summed modulo 2**64, so row order cannot matter."""
    df = normalize(df)
    acc = 0
    for row in df.itertuples(index=False):
        cells = [repr(round(c, 9)) if isinstance(c, float) else repr(c) for c in map(_cell, row)]
        acc = (acc + int(hashlib.md5("|".join(cells).encode()).hexdigest()[:16], 16)) % 2**64
    return len(df), f"{acc:016x}"


def recorded_fingerprint(name: str, seed: int, sf: float) -> dict | None:
    with open(FINGERPRINTS) as f:
        return json.load(f).get(f"{name}@seed={seed}@sf={sf}")


def check_entry(query, spark_pd: pd.DataFrame, con, seed: int, sf: float) -> str | None:
    """Check one catalog entry's collected output; None means correct."""
    if query.oracle is not None:
        return compare(spark_pd, con.execute(query.oracle).df())
    want = recorded_fingerprint(query.name, seed, sf)
    if want is None:
        return "no oracle and no recorded fingerprint"
    rows, digest = fingerprint(spark_pd)
    if (rows, digest) != (want["rows"], want["fingerprint"]):
        return f"fingerprint {rows}/{digest} != recorded {want['rows']}/{want['fingerprint']}"
    return None

