"""Seeded generator for the engine's ten input tables, and for the
funding points the stream workload lands.

The tables have the fixture schemas (``funding_monitoring_spark/schemas.py``)
and the fixture shapes: row counts proportional to the scale factor, the
same key ranges, category sets, price grids and text vocabulary, and
the same 5% share of near-duplicate documents (a copy of an earlier
document plus the token ``dup``). Everything derives from one
``numpy.random.Generator`` seeded by the caller, so a seed always
produces byte-identical parquet files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])
EVENT_START_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
EVENT_SPAN_US = 30 * 86_400 * 1_000_000
FUNDING_EVERY_US = 8 * 3_600 * 1_000_000  # three funding events a day
_DAY_US = 86_400 * 1_000_000
_ORDER_START_DAY = 9131  # 1995-01-01
_ORDER_DAYS = 2404  # through 2001-08-01
_SHIP_DAYS = 2498  # from 1995-01-02 through 2001-11-04
_WORDS = np.array(
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window".split()
)
_LANGS = np.array(["en", "zh", "de", "fr", "es"])
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = np.array(
    ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
)
_PRIORITIES = np.array(
    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
)
_ADJ = np.array(["blue", "old", "large", "hot", "cold", "red", "small", "new"])
_NOUN = np.array(
    ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
)
_PTYPES = np.array(
    ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
)
_TS = pa.timestamp("us")


def count(sf: float, per_unit: int, floor: int = 1) -> int:
    return max(floor, int(round(sf * per_unit)))


def _cents(rng: np.random.Generator, lo: float, hi: float,
           n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _keyed_names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def _events(rng: np.random.Generator, n: int, n_users: int) -> pa.Table:
    """``n`` events in time order; ``event_id`` increases with ``ts``."""
    ts = np.sort(rng.integers(EVENT_START_US, EVENT_START_US + EVENT_SPAN_US,
                              n))
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts, _TS),
        "user_id": pa.array(rng.integers(0, n_users, n), pa.int64()),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n)),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array(
            [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]
        ),
    })


def make_funding_points(
    rng: np.random.Generator, n_users: int, first_slot: int, n_slots: int,
    first_id: int = 0,
) -> pa.Table:
    """One point per symbol at each of ``n_slots`` funding times, 8 h
    apart from slot ``first_slot`` after ``EVENT_START_US``. A symbol is
    a (``user_id``, ``event_type``) pair, as the funding pipeline reads
    events; ``event_id`` increases with ``ts``."""
    n_types = len(EVENT_TYPES)
    per_slot = n_users * n_types
    n = per_slot * n_slots
    slots = np.repeat(np.arange(first_slot, first_slot + n_slots), per_slot)
    return pa.table({
        "event_id": pa.array(np.arange(first_id, first_id + n), pa.int64()),
        "ts": pa.array(EVENT_START_US + slots * FUNDING_EVERY_US, _TS),
        "user_id": pa.array(np.tile(
            np.repeat(np.arange(n_users), n_types), n_slots), pa.int64()),
        "event_type": pa.array(np.tile(EVENT_TYPES, n_users * n_slots)),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array(
            [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]
        ),
    })


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts = [
        " ".join(rng.choice(_WORDS, int(k)))
        for k in rng.integers(10, 101, n)
    ]
    # 5% near-duplicates: a copy of an earlier document plus " dup"
    for i in rng.choice(np.arange(1, n), max(1, n // 20), replace=False):
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(_LANGS, n)),
        "source": pa.array([f"src{s}" for s in rng.integers(0, 20, n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    vecs = rng.standard_normal((n, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(
        np.float32
    )
    flat = pa.array(vecs.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, n * dim + 1, dim), pa.int32())
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })


def make_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """All ten tables at scale factor ``sf`` (0.1 = 100k events,
    600k line items)."""
    rng = np.random.default_rng(seed)
    n_cust = count(sf, 150_000)
    n_supp = count(sf, 10_000)
    n_part = count(sf, 200_000)
    n_ord = count(sf, 1_500_000)
    n_line = count(sf, 6_000_000)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(_REGIONS),
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array(_keyed_names("Customer", n_cust)),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(_cents(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array(rng.choice(_SEGMENTS, n_cust)),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": pa.array(_keyed_names("Supplier", n_supp)),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": pa.array(_cents(rng, -999.99, 9999.99, n_supp)),
    })
    part_idx = np.arange(n_part)
    t["part"] = pa.table({
        "p_partkey": pa.array(part_idx, pa.int64()),
        "p_name": pa.array(np.char.add(
            np.char.add(rng.choice(_ADJ, n_part), " "),
            rng.choice(_NOUN, n_part),
        )),
        "p_brand": pa.array(
            [f"Brand#{b}" for b in rng.integers(1, 26, n_part)]
        ),
        "p_type": pa.array(rng.choice(_PTYPES, n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array(np.round(900.0 + (part_idx % 1000) / 10, 1)),
    })
    order_days = _ORDER_START_DAY + rng.integers(0, _ORDER_DAYS, n_ord)
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(np.array(list("OFP")), n_ord)),
        "o_totalprice": pa.array(_cents(rng, 1000.0, 500_000.0, n_ord)),
        "o_orderdate": pa.array(order_days * _DAY_US, _TS),
        "o_orderpriority": pa.array(rng.choice(_PRIORITIES, n_ord)),
    })
    ship_days = _ORDER_START_DAY + 1 + rng.integers(0, _SHIP_DAYS, n_line)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(float)),
        "l_extendedprice": pa.array(_cents(rng, 900.0, 105_000.0, n_line)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": pa.array(rng.choice(np.array(list("ANR")), n_line)),
        "l_linestatus": pa.array(rng.choice(np.array(list("OF")), n_line)),
        "l_shipdate": pa.array(ship_days * _DAY_US, _TS),
    })
    t["events"] = _events(rng, count(sf, 1_000_000), count(sf, 15_000))
    t["documents"] = _documents(rng, count(sf, 50_000, floor=500))
    t["embeddings"] = _embeddings(rng, count(sf, 20_000, floor=500))
    return t


def write_table(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def write_tables(tables: dict[str, pa.Table], sf_dir: str) -> None:
    """One ``<name>.parquet`` per table, the layout ``load_table`` reads."""
    for name, table in tables.items():
        write_table(table, os.path.join(sf_dir, f"{name}.parquet"))
