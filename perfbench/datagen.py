"""Seeded input generator for the benchmark.

Writes the engine's star-schema tables (``region nation customer
supplier part orders lineitem events``) as one parquet file each, in
the layout ``iot_etl_spark.sources.tables.load_table`` reads: pyarrow
defaults, microsecond timestamps without a zone. Row counts and the
value distributions follow the sf0.1 test tables: uniform ``user_id`` over 1,500 devices, five equally likely
event types, exponential readings with mean 50 rounded to cents, and
event times sorted over January 2024.

The same seed always gives byte-identical tables.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
N_USERS = 1500
EPOCH = np.datetime64("2024-01-01T00:00:00", "us")
EVENT_SPAN_US = 30 * 86_400 * 1_000_000

# sf0.1 row counts
ROWS = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
}


def _write(table: pa.Table, path: str) -> None:
    tmp = path + ".tmp"
    pq.write_table(table, tmp)
    os.replace(tmp, path)


def _strings(rng: np.random.Generator, choices, n: int) -> pa.Array:
    idx = rng.integers(0, len(choices), n)
    return pa.DictionaryArray.from_arrays(pa.array(idx, pa.int32()), pa.array(choices)).cast(
        pa.string()
    )


def event_columns(
    rng: np.random.Generator, event_ids: np.ndarray, ts_us: np.ndarray
) -> dict[str, pa.Array]:
    """The events schema for given ids and event times (µs offsets from
    ``EPOCH``): device, type, reading and a small JSON props blob."""
    n = len(event_ids)
    return {
        "event_id": pa.array(event_ids.astype(np.int64)),
        "ts": pa.array(EPOCH + ts_us.astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, N_USERS, n).astype(np.int64)),
        "event_type": _strings(rng, EVENT_TYPES, n),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": _strings(rng, [f'{{"k": {k}}}' for k in range(100)], n),
    }


def events_table(seed: int, n: int) -> pa.Table:
    rng = np.random.default_rng([seed, 8])
    ts = np.sort(rng.integers(0, EVENT_SPAN_US, n))
    return pa.table(event_columns(rng, np.arange(n), ts))


def _dates(rng: np.random.Generator, n: int, start: str, days: int) -> pa.Array:
    d = np.datetime64(start, "us") + (rng.integers(0, days, n) * 86_400_000_000).astype(
        "timedelta64[us]"
    )
    return pa.array(d)


ALL_TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events",
)


def write_tables(out_dir: str, seed: int, tables: tuple[str, ...] = ALL_TABLES) -> dict[str, int]:
    """Write the named tables under ``out_dir``; return their row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts: dict[str, int] = {}

    def put(name: str, table: pa.Table) -> None:
        _write(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows

    for name in tables:
        rng = np.random.default_rng([seed, ALL_TABLES.index(name)])
        if name == "region":
            put(name, pa.table({
                "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
            }))
        elif name == "nation":
            k = np.arange(25, dtype=np.int32)
            put(name, pa.table({
                "n_nationkey": pa.array(k),
                "n_name": [f"NATION_{i}" for i in k],
                "n_regionkey": pa.array(k % 5),
            }))
        elif name == "customer":
            n = ROWS[name]
            put(name, pa.table({
                "c_custkey": pa.array(np.arange(n, dtype=np.int64)),
                "c_name": [f"Customer#{i:09d}" for i in range(n)],
                "c_nationkey": pa.array(rng.integers(0, 25, n).astype(np.int32)),
                "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n), 2)),
                "c_mktsegment": _strings(
                    rng, ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n
                ),
            }))
        elif name == "supplier":
            n = ROWS[name]
            put(name, pa.table({
                "s_suppkey": pa.array(np.arange(n, dtype=np.int64)),
                "s_name": [f"Supplier#{i:09d}" for i in range(n)],
                "s_nationkey": pa.array(rng.integers(0, 25, n).astype(np.int32)),
                "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n), 2)),
            }))
        elif name == "part":
            n = ROWS[name]
            adj = ["red", "blue", "green", "hot", "cold", "large", "small", "shiny"]
            noun = ["bolt", "ring", "nut", "screw", "gear", "valve", "pipe", "spring"]
            names = [f"{adj[a]} {noun[b]}" for a, b in zip(
                rng.integers(0, 8, n), rng.integers(0, 8, n))]
            put(name, pa.table({
                "p_partkey": pa.array(np.arange(n, dtype=np.int64)),
                "p_name": names,
                "p_brand": _strings(rng, [f"Brand#{i}" for i in range(1, 26)], n),
                "p_type": _strings(
                    rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n
                ),
                "p_size": pa.array(rng.integers(1, 51, n).astype(np.int32)),
                "p_retailprice": pa.array(np.round(900.0 + (np.arange(n) % 1000) * 0.1, 2)),
            }))
        elif name == "orders":
            n = ROWS[name]
            put(name, pa.table({
                "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
                "o_custkey": pa.array(rng.integers(0, ROWS["customer"], n).astype(np.int64)),
                "o_orderstatus": _strings(rng, ["F", "O", "P"], n),
                "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500000.0, n), 2)),
                "o_orderdate": _dates(rng, n, "1995-01-01", 2400),
                "o_orderpriority": _strings(
                    rng, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n
                ),
            }))
        elif name == "lineitem":
            n = ROWS[name]
            qty = rng.integers(1, 51, n).astype(np.float64)
            put(name, pa.table({
                "l_orderkey": pa.array(rng.integers(0, ROWS["orders"], n).astype(np.int64)),
                "l_partkey": pa.array(rng.integers(0, ROWS["part"], n).astype(np.int64)),
                "l_suppkey": pa.array(rng.integers(0, ROWS["supplier"], n).astype(np.int64)),
                "l_linenumber": pa.array(rng.integers(1, 8, n).astype(np.int32)),
                "l_quantity": pa.array(qty),
                "l_extendedprice": pa.array(np.round(rng.uniform(900.0, 105000.0, n), 2)),
                "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
                "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
                "l_returnflag": _strings(rng, ["A", "N", "R"], n),
                "l_linestatus": _strings(rng, ["F", "O"], n),
                "l_shipdate": _dates(rng, n, "1995-01-02", 2500),
            }))
        elif name == "events":
            put(name, events_table(seed, ROWS[name]))
        else:
            raise ValueError(f"unknown table {name!r}")
    return counts
