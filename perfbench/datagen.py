"""Deterministic sf0.1-shaped warehouse for the serving benchmark.

The server serves a directory of ``<table>.parquet`` files. The benchmark
builds that directory itself, inside its own checkout, so a run needs no
data from outside it. Schemas, row counts and value ranges follow the
repository's TPC-H-ish star schema at sf0.1 (FIXTURES.md): 600k
``lineitem`` rows over 150k orders, 15k customers, 1k suppliers, 20k parts
and 100k ``events``. Columns are drawn independently and uniformly, except
that every order has four lines. Each table is one parquet row group, so
Spark splits and prunes the files the way it does the repository's test
corpus.

The warehouse is a fixture: it depends only on ``DATA_SEED``. The
workload seed chooses requests, never data, so every run of every seed
serves the same tables.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
# Bump when the generator changes so a stale warehouse is rebuilt.
VERSION = "2"

N_CUSTOMER = 15_000
N_SUPPLIER = 1_000
N_PART = 20_000
N_ORDERS = 150_000
N_LINEITEM = 600_000
N_EVENTS = 100_000
N_USERS = 1_500

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_WORDS = (["blue", "cold", "hot", "large", "old", "red", "small"],
              ["anvil", "bolt", "gear", "plate", "ring", "rod", "widget"])
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

ORDER_DATES = (dt.datetime(1995, 1, 1), dt.datetime(2001, 8, 1))
EVENT_START = dt.datetime(2024, 1, 1)
EVENT_SPAN_S = 30 * 86_400


def _days(rng: np.random.Generator, n: int, lo: dt.datetime, hi: dt.datetime) -> np.ndarray:
    span = (hi - lo).days
    return np.datetime64(lo, "us") + rng.integers(0, span + 1, n).astype("timedelta64[D]")


def _pick(rng: np.random.Generator, values: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)], pa.string())


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def build_tables(seed: int = DATA_SEED) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    i32, i64 = pa.int32(), pa.int64()
    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(len(REGIONS)), i32),
        "r_name": pa.array(REGIONS),
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": pa.array([f"NATION_{k}" for k in range(25)]),
        "n_regionkey": pa.array([k % len(REGIONS) for k in range(25)], i32),
    })
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(N_CUSTOMER), i64),
        "c_name": pa.array([f"Customer#{k:09d}" for k in range(N_CUSTOMER)]),
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMER), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, N_CUSTOMER),
        "c_mktsegment": _pick(rng, SEGMENTS, N_CUSTOMER),
    })
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(N_SUPPLIER), i64),
        "s_name": pa.array([f"Supplier#{k:09d}" for k in range(N_SUPPLIER)]),
        "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIER), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, N_SUPPLIER),
    })
    adjectives = np.asarray(PART_WORDS[0], dtype=object)[rng.integers(0, 7, N_PART)]
    nouns = np.asarray(PART_WORDS[1], dtype=object)[rng.integers(0, 7, N_PART)]
    tables["part"] = pa.table({
        "p_partkey": pa.array(np.arange(N_PART), i64),
        "p_name": pa.array([f"{a} {b}" for a, b in zip(adjectives, nouns)]),
        "p_brand": pa.array([f"Brand#{k}" for k in rng.integers(1, 26, N_PART)]),
        "p_type": _pick(rng, PART_TYPES, N_PART),
        "p_size": pa.array(rng.integers(1, 51, N_PART), i32),
        "p_retailprice": np.round(900.0 + (np.arange(N_PART) % 1000) * 0.1, 2),
    })
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(N_ORDERS), i64),
        "o_custkey": pa.array(rng.integers(0, N_CUSTOMER, N_ORDERS), i64),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], N_ORDERS),
        "o_totalprice": _money(rng, 1000.0, 500000.0, N_ORDERS),
        "o_orderdate": _days(rng, N_ORDERS, *ORDER_DATES),
        "o_orderpriority": _pick(rng, PRIORITIES, N_ORDERS),
    })
    quantity = rng.integers(1, 51, N_LINEITEM).astype(np.float64)
    tables["lineitem"] = pa.table({
        # Every order has exactly four lines, so a lookup or range answer's
        # size depends only on its key count, never on which keys a seed draws.
        "l_orderkey": pa.array(rng.permutation(np.repeat(np.arange(N_ORDERS),
                                                         N_LINEITEM // N_ORDERS)), i64),
        "l_partkey": pa.array(rng.integers(0, N_PART, N_LINEITEM), i64),
        "l_suppkey": pa.array(rng.integers(0, N_SUPPLIER, N_LINEITEM), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, N_LINEITEM), i32),
        "l_quantity": quantity,
        "l_extendedprice": _money(rng, 900.0, 105000.0, N_LINEITEM),
        "l_discount": np.round(rng.integers(0, 11, N_LINEITEM) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, N_LINEITEM) * 0.01, 2),
        "l_returnflag": _pick(rng, ["A", "N", "R"], N_LINEITEM),
        "l_linestatus": _pick(rng, ["F", "O"], N_LINEITEM),
        "l_shipdate": _days(rng, N_LINEITEM, dt.datetime(1995, 1, 2), dt.datetime(2001, 11, 4)),
    })
    offsets_us = np.sort(rng.integers(0, EVENT_SPAN_S * 1_000_000, N_EVENTS))
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(N_EVENTS), i64),
        "ts": pa.array(np.datetime64(EVENT_START, "us") + offsets_us.astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, N_USERS, N_EVENTS), i64),
        "event_type": _pick(rng, EVENT_TYPES, N_EVENTS),
        "value": _money(rng, 0.0, 560.0, N_EVENTS),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)]),
    })
    return tables


def ensure_warehouse(directory: str) -> str:
    """Build the warehouse under ``directory`` unless an up-to-date copy is
    already there; returns the directory. The files are written to a
    sibling and renamed into place, so an interrupted build leaves no
    half-written warehouse behind."""
    stamp = os.path.join(directory, "VERSION")
    try:
        with open(stamp) as fh:
            if fh.read().strip() == VERSION:
                return directory
    except FileNotFoundError:
        pass
    staging = directory + ".partial"
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    for name, table in build_tables().items():
        pq.write_table(table, os.path.join(staging, f"{name}.parquet"),
                       row_group_size=table.num_rows, compression="snappy")
    with open(os.path.join(staging, "VERSION"), "w") as fh:
        fh.write(VERSION + "\n")
    shutil.rmtree(directory, ignore_errors=True)
    os.rename(staging, directory)
    return directory
