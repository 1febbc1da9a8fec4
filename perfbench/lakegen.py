"""Deterministic input generation for the benchmark.

The table contents come from a fixed generation seed, so every workload seed
sees the same rows and the expected query results do not depend on the seed.
The workload seed only decides the physical layout (which rows land in which
parquet file) and, for ``lake_ingest``, which tables change and which keys the
txlog operations touch.

The tables mimic the engine's synthetic star schema (region, nation, customer,
supplier, part, orders, lineitem), its event stream and its two corpus tables
(documents, embeddings): same column names, parquet types and value domains.
Only numpy and pyarrow are used, so no Spark job runs while inputs are made.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 20240101

# Rows at scale factor 1; tables below 1 row per factor are fixed-size.
_ROWS_AT_SF1 = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
}
_MIN_CORPUS_ROWS = {"documents": 500, "embeddings": 500}

# Files per table in the seeded multi-file layout: scans fan out over the
# cores, as in a lake of many files per table.
FILES_PER_TABLE = {
    "region": 1,
    "nation": 1,
    "customer": 2,
    "supplier": 2,
    "part": 2,
    "orders": 4,
    "lineitem": 4,
    "events": 8,
    "documents": 8,
    "embeddings": 8,
}

_VOCAB = (
    "a the data table row column key value join merge sort hash scan filter "
    "group agg order line part customer batch stream window query spark "
    "vector big small fast slow"
).split()
_COLORS = "red blue green small large tiny white black".split()
_NOUNS = "ring widget bolt anvil gear spring valve nut".split()
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.42, 0.145, 0.145, 0.145, 0.145]


def _rows(name: str, sf: float) -> int:
    return max(1, int(round(_ROWS_AT_SF1[name] * sf)))


def _micros(day: dt.datetime) -> int:
    return int((day - dt.datetime(1970, 1, 1)).total_seconds() * 1_000_000)


def _day_stamps(rng: np.random.Generator, n: int, first: str, last: str) -> pa.Array:
    lo = dt.datetime.fromisoformat(first)
    days = (dt.datetime.fromisoformat(last) - lo).days
    offs = rng.integers(0, days + 1, n).astype(np.int64) * 86_400_000_000
    return pa.array(_micros(lo) + offs, pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i >= 20 and rng.random() < 0.05:
            # near-duplicate of an earlier document: one word changed + marker
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = _VOCAB[int(rng.integers(0, len(_VOCAB)))]
            texts.append(" ".join(words + ["dup"]))
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(_VOCAB[j] for j in rng.integers(0, len(_VOCAB), k)))
    ids = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "doc_id": ids,
            "text": texts,
            "lang": [_LANGS[j] for j in rng.choice(len(_LANGS), n, p=_LANG_P)],
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    x = rng.standard_normal((n, 64)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    flat = pa.array(x.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, n * 64 + 1, 64, dtype=np.int32))
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": rng.integers(0, 10, n).astype(np.int32),
        }
    )


def make_tables(sf: float) -> dict[str, pa.Table]:
    """Every lake table at scale factor ``sf``, from the fixed data seed."""
    rng = np.random.default_rng(DATA_SEED)
    n_cust, n_supp, n_part = _rows("customer", sf), _rows("supplier", sf), _rows("part", sf)
    n_ord, n_li, n_ev = _rows("orders", sf), _rows("lineitem", sf), _rows("events", sf)
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    out["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": [_SEGMENTS[j] for j in rng.integers(0, 5, n_cust)],
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    retail = np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2)
    out["part"] = pa.table(
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [
                f"{_COLORS[a]} {_NOUNS[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{j}" for j in rng.integers(1, 26, n_part)],
            "p_type": [_TYPES[j] for j in rng.integers(0, 6, n_part)],
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": retail,
        }
    )
    out["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": [("F", "O", "P")[j] for j in rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": _day_stamps(rng, n_ord, "1995-01-01", "2001-08-01"),
            "o_orderpriority": [_PRIORITIES[j] for j in rng.integers(0, 5, n_ord)],
        }
    )
    partkey = rng.integers(0, n_part, n_li).astype(np.int64)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    out["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
            "l_partkey": partkey,
            "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * retail[partkey] * rng.uniform(0.99, 1.01, n_li), 2),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": [("A", "N", "R")[j] for j in rng.integers(0, 3, n_li)],
            "l_linestatus": [("F", "O")[j] for j in rng.integers(0, 2, n_li)],
            "l_shipdate": _day_stamps(rng, n_li, "1995-01-02", "2001-11-04"),
        }
    )
    span_us = 30 * 86_400_000_000
    ts = np.sort(rng.integers(0, span_us, n_ev)) + _micros(dt.datetime(2024, 1, 1))
    out["events"] = pa.table(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": pa.array(ts.astype(np.int64), pa.timestamp("us")),
            "user_id": rng.integers(0, max(1, n_cust // 10), n_ev).astype(np.int64),
            "event_type": [_EVENT_TYPES[j] for j in rng.integers(0, 5, n_ev)],
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {j}}}' for j in rng.integers(0, 100, n_ev)],
        }
    )
    out["documents"] = _documents(rng, max(_MIN_CORPUS_ROWS["documents"], int(50_000 * sf)))
    out["embeddings"] = _embeddings(rng, max(_MIN_CORPUS_ROWS["embeddings"], int(20_000 * sf)))
    return out


def write_split(table: pa.Table, path: str, n_files: int, rng: np.random.Generator) -> None:
    """Write ``table`` as ``n_files`` parquet files under directory ``path``,
    rows shuffled by ``rng`` (the seeded layout; contents are unchanged)."""
    os.makedirs(path, exist_ok=True)
    perm = rng.permutation(table.num_rows)
    for i, chunk in enumerate(np.array_split(perm, n_files)):
        pq.write_table(table.take(pa.array(chunk)), os.path.join(path, f"part-{i:05d}.parquet"))


def write_lake(tables: dict[str, pa.Table], lake_dir: str, seed: int) -> dict[str, str]:
    """The seeded multi-file lake: ``<lake_dir>/<table>.parquet/part-*.parquet``.
    Returns table -> directory."""
    rng = np.random.default_rng(seed)
    paths = {}
    for name in sorted(tables):
        paths[name] = os.path.join(lake_dir, f"{name}.parquet")
        write_split(tables[name], paths[name], FILES_PER_TABLE[name], rng)
    return paths


def dir_bytes(path: str) -> int:
    """Bytes of every regular file under ``path``."""
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total
