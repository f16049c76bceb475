"""Seeded input generators for the benchmark.

Two families of inputs, both pure functions of ``(seed, scale)``:

- ``write_star_schema``: the ten synthetic tables the query catalog
  reads (region … embeddings), with the same column names, Parquet
  types and value distributions as the engine's fixture data. Row counts
  scale with ``sf`` the way the fixture scale factors do (lineitem =
  6M x sf).
- ``write_fhvhv_months``: raw monthly FHVHV trip files for the load
  path. They are wider than the warehouse schema (decoy columns the load
  must project away) and carry a share of NULL ``on_scene_datetime``.

Only numpy and pyarrow are used, so generation takes well under a second
at the scales the benchmark runs.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "red", "small", "large", "old", "new", "hot", "cold"]
PART_NOUN = ["widget", "bolt", "gear", "ring", "anvil", "plate", "gizmo", "nut"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "fr", "zh", "de", "es"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
VOCAB = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()

_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_EPOCH_2024 = np.datetime64("2024-01-01", "us")
_US_PER_DAY = 86_400_000_000


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, epoch, max_day: int, n: int) -> np.ndarray:
    return epoch + rng.integers(0, max_day + 1, n).astype("timedelta64[D]")


def star_schema_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The ten catalog tables at scale factor ``sf`` as Arrow tables."""
    rng = np.random.default_rng([seed, 1])
    n_cust = max(15, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_ord = max(150, int(1_500_000 * sf))
    n_line = max(600, int(6_000_000 * sf))
    n_evt = max(100, int(1_000_000 * sf))
    n_users = max(5, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(np.arange(5), pa.int32()),
            "r_name": REGIONS,
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(np.arange(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    adj = np.array(PART_ADJ)[rng.integers(0, len(PART_ADJ), n_part)]
    noun = np.array(PART_NOUN)[rng.integers(0, len(PART_NOUN), n_part)]
    t["part"] = pa.table(
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": np.char.add(np.char.add(adj, " "), noun),
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _days(rng, _EPOCH_1995, 2404, n_ord),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_line),
            "l_partkey": rng.integers(0, n_part, n_line),
            "l_suppkey": rng.integers(0, n_supp, n_line),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
            "l_shipdate": _days(rng, _EPOCH_1995 + np.timedelta64(1, "D"), 2498, n_line),
        }
    )
    ts = _EPOCH_2024 + np.sort(rng.integers(0, 30 * _US_PER_DAY, n_evt)).astype(
        "timedelta64[us]"
    )
    t["events"] = pa.table(
        {
            "event_id": np.arange(n_evt, dtype=np.int64),
            "ts": ts,
            "user_id": rng.integers(0, n_users, n_evt),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_evt)],
            "value": np.maximum(np.round(rng.exponential(50.0, n_evt), 2), 0.01),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
        }
    )
    t["documents"] = _documents(rng, n_docs)
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    t["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_emb, dtype=np.int64),
            "embedding": pa.FixedSizeListArray.from_arrays(emb.ravel(), 64).cast(
                pa.list_(pa.float32())
            ),
            "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
        }
    )
    return t


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Random-word documents; about 5% are a copy of an earlier document
    with `` dup`` appended (near duplicates) and about 0.2% are exact
    copies, so the dedup operators have real work to find."""
    vocab = np.array(VOCAB)
    texts: list[str] = []
    kind = rng.random(n)
    for i in range(n):
        if i > 0 and kind[i] < 0.05:
            texts.append(texts[rng.integers(0, i)] + " dup")
        elif i > 0 and kind[i] < 0.052:
            texts.append(texts[rng.integers(0, i)])
        else:
            words = vocab[rng.integers(0, len(vocab), rng.integers(10, 101))]
            texts.append(" ".join(words))
    return pa.table(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": np.array(LANGS)[rng.choice(5, n, p=LANG_P)],
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
        }
    )


def write_star_schema(out_dir: str, seed: int, sf: float) -> str:
    """Write the catalog tables as ``<out_dir>/<name>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in star_schema_tables(seed, sf).items():
        _write(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


def fhvhv_month(seed: int, year: int, month: int, rows: int) -> pa.Table:
    """One raw FHVHV month: the 13 consumed columns under their source
    names plus decoy columns, ~25% NULL ``on_scene_datetime``."""
    rng = np.random.default_rng([seed, 2, year, month])
    start = np.datetime64(dt.date(year, month, 1), "us")
    req = start + rng.integers(0, 28 * _US_PER_DAY, rows).astype("timedelta64[us]")
    wait = rng.integers(60, 900, rows).astype("timedelta64[s]")
    trip = rng.integers(180, 3600, rows).astype("timedelta64[s]")
    on_scene = pa.array(req + wait // 2, mask=rng.random(rows) < 0.25)
    return pa.table(
        {
            "hvfhs_license_num": np.array(["HV0002", "HV0003", "HV0004", "HV0005"])[
                rng.integers(0, 4, rows)
            ],
            "dispatching_base_num": [f"B{b:05d}" for b in rng.integers(2000, 2100, rows)],
            "originating_base_num": [f"B{b:05d}" for b in rng.integers(2000, 2100, rows)],
            "request_datetime": req,
            "on_scene_datetime": on_scene,
            "pickup_datetime": req + wait,
            "dropoff_datetime": req + wait + trip,
            "PULocationID": rng.integers(1, 266, rows),
            "DOLocationID": rng.integers(1, 266, rows),
            "trip_miles": np.round(rng.exponential(4.5, rows), 2),
            "trip_time": trip.astype(np.int64),
            "base_passenger_fare": _money(rng, 5.0, 80.0, rows),
            "sales_tax": _money(rng, 0.0, 6.0, rows),
            "congestion_surcharge": np.array([0.0, 2.75])[rng.integers(0, 2, rows)],
            "airport_fee": np.array([0.0, 2.5])[(rng.random(rows) < 0.1).astype(int)],
            "tips": np.round(np.where(rng.random(rows) < 0.3, rng.exponential(4.0, rows), 0.0), 2),
            "driver_pay": _money(rng, 4.0, 70.0, rows),
            "shared_request_flag": np.array(["N", "Y"])[(rng.random(rows) < 0.05).astype(int)],
        }
    )


def write_fhvhv_months(
    out_dir: str, seed: int, months: list[tuple[int, int]], rows: int
) -> list[tuple[str, int, int]]:
    """Write one raw file per ``(year, month)`` under the TLC naming
    convention; returns ``(path, year, month)`` in load order."""
    os.makedirs(out_dir, exist_ok=True)
    out = []
    for year, month in months:
        path = os.path.join(out_dir, f"fhvhv_tripdata_{year}-{month:02d}.parquet")
        _write(fhvhv_month(seed, year, month, rows), path)
        out.append((path, year, month))
    return out
