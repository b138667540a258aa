"""Seeded generator of the ten base tables the entry module reads.

The tables have the schemas and value distributions of the TPC-H-ish
driver testdata (TESTDATA.md): dense integer keys, uniform attributes, a
30-word document vocabulary with 5% " dup"-suffixed near-copies, unit
64-d float embeddings and a month of time-ordered events. Every spatial,
line and corpus fixture is derived from these keys by
``gpd_lite_toolbox_spark.fixtures``.

A seed offsets every entity key by ``(seed % KEY_CYCLE) * KEY_STRIDE``
and reseeds every attribute. The stride is a multiple of 8, 9, 25, 7, 13
and 17, so every ``key % m`` residue the fixtures and splits select on
(the ``% 13`` ingest split, the ``% 10`` / ``% 17`` planted duplicates,
the ``% 50`` vector splits) keeps its share, while the hashed
coordinates, shapes and doc ids move. Keys stay below 1.4e9, so the
fixtures' ``key * 3266489917`` hashes fit in a signed 64-bit integer.
Seed 0 has unshifted keys, as the driver's tables do.
"""

from __future__ import annotations

import os
import shutil
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

KEY_STRIDE = 8 * 9 * 25 * 7 * 13 * 17  # 2_784_600
KEY_CYCLE = 500

# Row counts per table: the driver's sf0.01 sizes.
SIZES = dict(customer=1500, supplier=100, part=2000, orders=15000,
             lineitem=60000, events=10000, documents=500, embeddings=500)

WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["blue", "cold", "hot", "large", "old", "red", "small", "tiny"]
NOUN = ["anvil", "bolt", "gear", "plate", "ring", "rod", "widget", "nut"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "fr", "zh", "de", "es"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
EMB_DIM = 64
DUP_SHARE = 0.05

_US = 1_000_000
_DAY_US = 86_400 * _US


def _epoch_us(y: int, m: int, d: int) -> int:
    return int((datetime(y, m, d) - datetime(1970, 1, 1)).total_seconds()) * _US


def _days(rng, n: int, lo: tuple, hi: tuple) -> pa.Array:
    a, b = _epoch_us(*lo) // _DAY_US, _epoch_us(*hi) // _DAY_US
    us = rng.integers(a, b + 1, n, dtype=np.int64) * _DAY_US
    return pa.array(us, pa.timestamp("us"))


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values: list[str], n: int, p=None) -> pa.Array:
    idx = rng.choice(len(values), n, p=p)
    return pa.array(np.asarray(values, dtype=object)[idx], pa.string())


def _documents(rng, keys: np.ndarray) -> pa.Table:
    n = len(keys)
    words = np.asarray(WORDS, dtype=object)
    texts: list[str] = []
    for i in range(n):
        if i and rng.random() < DUP_SHARE:
            texts.append(texts[rng.integers(0, i)].removesuffix(" dup") + " dup")
        else:
            texts.append(" ".join(words[rng.integers(0, len(WORDS),
                                                     rng.integers(10, 101))]))
    return pa.table({
        "doc_id": pa.array(keys, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": _pick(rng, LANGS, n, LANG_P),
        "source": pa.array([f"src{k % 20}" for k in keys], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng, keys: np.ndarray) -> pa.Table:
    n = len(keys)
    x = rng.standard_normal((n, EMB_DIM))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.ListArray.from_arrays(
        pa.array(np.arange(0, (n + 1) * EMB_DIM, EMB_DIM, dtype=np.int32)),
        pa.array(x.ravel(), pa.float32()),
    )
    return pa.table({
        "vec_id": pa.array(keys, pa.int64()),
        "embedding": emb,
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })


def tables(seed: int, scale: float = 1.0) -> dict[str, pa.Table]:
    """The ten base tables for ``seed``, as Arrow tables, with
    ``scale`` times the rows of every table but region and nation."""
    rng = np.random.default_rng(seed)
    off = (seed % KEY_CYCLE) * KEY_STRIDE
    sizes = {t: max(1, round(n * scale)) for t, n in SIZES.items()}

    def keys(name: str) -> np.ndarray:
        return np.arange(sizes[name], dtype=np.int64) + off

    cust, supp, part, orders = (keys(t) for t in
                                ("customer", "supplier", "part", "orders"))
    n_li, n_ev = sizes["lineitem"], sizes["events"]
    return {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": pa.array(REGIONS, pa.string()),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(cust, pa.int64()),
            "c_name": pa.array([f"Customer#{k:09d}" for k in cust]),
            "c_nationkey": pa.array(rng.integers(0, 25, len(cust)), pa.int32()),
            "c_acctbal": _money(rng, len(cust), -999.99, 9999.99),
            "c_mktsegment": _pick(rng, SEGMENTS, len(cust)),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(supp, pa.int64()),
            "s_name": pa.array([f"Supplier#{k:09d}" for k in supp]),
            "s_nationkey": pa.array(rng.integers(0, 25, len(supp)), pa.int32()),
            "s_acctbal": _money(rng, len(supp), -999.99, 9999.99),
        }),
        "part": pa.table({
            "p_partkey": pa.array(part, pa.int64()),
            "p_name": pa.array([f"{ADJ[a]} {NOUN[b]}" for a, b in
                                rng.integers(0, 8, (len(part), 2))]),
            "p_brand": pa.array([f"Brand#{b}" for b in
                                 rng.integers(1, 26, len(part))]),
            "p_type": _pick(rng, PTYPES, len(part)),
            "p_size": pa.array(rng.integers(1, 51, len(part)), pa.int32()),
            "p_retailprice": np.round(900.0 + (part % 1000) / 10.0, 1),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(orders, pa.int64()),
            "o_custkey": pa.array(rng.choice(cust, len(orders)), pa.int64()),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], len(orders)),
            "o_totalprice": _money(rng, len(orders), 1000.0, 500000.0),
            "o_orderdate": _days(rng, len(orders), (1995, 1, 1), (2001, 8, 1)),
            "o_orderpriority": _pick(rng, PRIORITIES, len(orders)),
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.choice(orders, n_li), pa.int64()),
            "l_partkey": pa.array(rng.choice(part, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.choice(supp, n_li), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, n_li, 900.0, 100000.0),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
            "l_linestatus": _pick(rng, ["F", "O"], n_li),
            "l_shipdate": _days(rng, n_li, (1995, 1, 2), (2001, 11, 4)),
        }),
        "events": pa.table({
            "event_id": pa.array(keys("events"), pa.int64()),
            "ts": pa.array(
                np.sort(rng.integers(0, 30 * _DAY_US, n_ev))
                + _epoch_us(2024, 1, 1), pa.timestamp("us")),
            "user_id": pa.array(
                rng.integers(0, max(1, len(cust) // 10), n_ev), pa.int64()),
            "event_type": _pick(rng, EVENT_TYPES, n_ev),
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": pa.array([f'{{"k": {k}}}' for k in
                               rng.integers(0, 100, n_ev)]),
        }),
        "documents": _documents(rng, keys("documents")),
        "embeddings": _embeddings(rng, keys("embeddings")),
    }


def write(seed: int, out_dir: str, scale: float = 1.0) -> str:
    """Write the tables as ``<out_dir>/<table>.parquet`` once; return out_dir."""
    if os.path.exists(os.path.join(out_dir, "_SUCCESS")):
        return out_dir
    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in tables(seed, scale).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    open(os.path.join(tmp, "_SUCCESS"), "w").close()
    shutil.rmtree(out_dir, ignore_errors=True)
    os.replace(tmp, out_dir)
    return out_dir
