"""Seeded input generation for the benchmark workloads.

Every table is a pure function of the seed: the same seed writes
byte-identical parquet. The shapes follow the TPC-H-ish star schema the
library's tests use (sf0.1: 600k lineitem, 150k orders, 15k customers,
20k parts, 1k suppliers, 25 nations, 5 regions), plus the synthetic
``documents`` corpus and the 64-d ``embeddings`` table.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SF = 0.1
_EPOCH_1995 = np.datetime64("1995-01-01", "D")
_DAYS = 7 * 365  # order/ship dates span 1995-01-01 .. ~2001-12
_FLAGS = np.array(["A", "N", "R"])
_LSTATUS = np.array(["F", "O"])
_OSTATUS = np.array(["F", "O", "P"])
_PRIORITY = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
_SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_P_ADJ = ["red", "blue", "green", "hot", "cold", "large", "small", "dark"]
_P_NOUN = ["bolt", "ring", "gear", "nut", "screw", "valve", "pipe", "spring"]
_P_TYPES = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
WORDS = np.array(
    "a the batch part spark line column order small sort fast value scan "
    "hash slow group agg filter query big key window row table stream merge "
    "data vector join customer".split()
)
LANGS = np.array(["en", "en", "en", "de", "es", "fr", "zh"])
N_DOCS = 5000
EMB_DIM = 64


def _ts(days: np.ndarray) -> pa.Array:
    return pa.array((_EPOCH_1995 + days).astype("datetime64[us]"))


def _cents(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def tpch_tables(rng: np.random.Generator) -> dict[str, pa.Table]:
    n_cust, n_part, n_supp = int(150_000 * SF), int(200_000 * SF), int(10_000 * SF)
    n_ord, n_line = int(1_500_000 * SF), int(6_000_000 * SF)
    region = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": _REGIONS,
    })
    nation = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })
    customer = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
        "c_acctbal": _cents(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _SEGMENTS[rng.integers(0, 5, n_cust)],
    })
    supplier = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
        "s_acctbal": _cents(rng, -999.99, 9999.99, n_supp),
    })
    names = np.array([f"{a} {b}" for a in _P_ADJ for b in _P_NOUN])
    part = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": names[rng.integers(0, len(names), n_part)],
        "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[rng.integers(0, 25, n_part)],
        "p_type": _P_TYPES[rng.integers(0, len(_P_TYPES), n_part)],
        "p_size": rng.integers(1, 51, n_part, dtype=np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2),
    })
    orders = orders_rows(rng, np.arange(n_ord, dtype=np.int64), n_cust)
    lineitem = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line, dtype=np.int64),
        "l_partkey": rng.integers(0, n_part, n_line, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, n_line, dtype=np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _cents(rng, 900, 105_000, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": _FLAGS[rng.integers(0, 3, n_line)],
        "l_linestatus": _LSTATUS[rng.integers(0, 2, n_line)],
        "l_shipdate": _ts(rng.integers(1, _DAYS, n_line)),
    })
    return {
        "region": region, "nation": nation, "customer": customer,
        "supplier": supplier, "part": part, "orders": orders,
        "lineitem": lineitem,
    }


def orders_rows(rng: np.random.Generator, keys: np.ndarray, n_cust: int) -> pa.Table:
    """``orders`` rows for the given order keys."""
    n = len(keys)
    return pa.table({
        "o_orderkey": keys.astype(np.int64),
        "o_custkey": rng.integers(0, n_cust, n, dtype=np.int64),
        "o_orderstatus": _OSTATUS[rng.integers(0, 3, n)],
        "o_totalprice": _cents(rng, 1000, 500_000, n),
        "o_orderdate": _ts(rng.integers(0, _DAYS, n)),
        "o_orderpriority": _PRIORITY[rng.integers(0, 5, n)],
    })


def random_texts(rng: np.random.Generator, n: int, lo: int, hi: int) -> list[str]:
    """``n`` space-joined word sequences of ``lo``..``hi`` words."""
    lens = rng.integers(lo, hi + 1, n)
    flat = WORDS[rng.integers(0, len(WORDS), int(lens.sum()))]
    cuts = np.cumsum(lens)[:-1]
    return [" ".join(ws) for ws in np.split(flat, cuts)]


def documents(rng: np.random.Generator, n: int = N_DOCS) -> pa.Table:
    texts = random_texts(rng, n, 10, 110)
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": LANGS[rng.integers(0, len(LANGS), n)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def embeddings(rng: np.random.Generator, n: int = 2000) -> pa.Table:
    labels = rng.integers(0, 10, n, dtype=np.int32)
    centers = rng.normal(0, 1, (10, EMB_DIM))
    vecs = (centers[labels] * 0.3 + rng.normal(0, 0.2, (n, EMB_DIM))).astype(np.float32)
    flat = pa.array(vecs.reshape(-1))
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, n * EMB_DIM + 1, EMB_DIM, dtype=np.int32)), flat
        ),
        "label": labels,
    })


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> dict[str, dict]:
    """Write each table as ``<out_dir>/<name>.parquet``; return sizes."""
    os.makedirs(out_dir, exist_ok=True)
    sizes = {}
    for name, t in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(t, path)
        sizes[name] = {"rows": t.num_rows, "bytes": os.path.getsize(path)}
    return sizes
