"""Seeded input generator for the benchmark.

Writes the ten engine tables (the TPC-H-shaped star schema, ``events``,
``documents`` and ``embeddings``) as parquet directories under one
output directory, with the columns, types and value domains of the
engine's reference test data. Every value is drawn from a numpy
generator keyed by (seed, table), so the same seed gives byte-identical
files, and a different seed gives a different sample of the same
distributions.

* Keys are dense (``0..n-1``) so the queries' key arithmetic
  (``doc_id % 7``, ``doc_id < 100``) selects the same share of rows at
  every seed; row order inside the files is permuted.
* Foreign keys (lineitem→orders/part/supplier, orders→customer,
  customer/supplier→nation, events→users) always point at an existing
  row.
* Every constant the registered queries filter on exists in its domain
  (segments, priorities, brands, date ranges, event types, languages).
* Line-item prices are whole quarters, and discounts and taxes are
  multiples of 1/32 (0-0.094 and 0-0.0625; the reference data uses
  cents and hundredths). A price, discounted price or charge then has
  at most 12 fractional bits, so the queries' double sums are exact in
  any order and stay far enough from every ``round(..., 4)`` boundary
  that Spark and the DuckDB oracle round them alike. With cents, q1's
  sums rounded differently in the two engines in about one run in
  thirty.
* Documents are bags of words from a 30-word vocabulary. 5% are near
  duplicates (an earlier document's text plus `` dup``) and 0.16% are
  exact duplicates, as in the reference data.
* Each table with more than a few rows is split into several files, so
  scans run as several tasks.
"""

from __future__ import annotations

import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
EMBED_DIM = 64

_DAY_US = 86_400_000_000


def table_sizes(scale: float) -> dict[str, int]:
    """Row counts at `scale`, proportional to the reference data
    (scale 0.1 = 600k lineitem rows). Documents and embeddings keep the
    reference data's floor of 500 rows at small scales."""
    def n(per_unit: int) -> int:
        return max(1, round(per_unit * scale))
    return {
        "region": 5, "nation": 25,
        "customer": n(150_000), "supplier": n(10_000), "part": n(200_000),
        "orders": n(1_500_000), "lineitem": n(6_000_000),
        "events": n(1_000_000), "users": n(15_000),
        "documents": max(500, n(50_000)), "embeddings": max(500, n(20_000)),
    }


def _us(day: str) -> int:
    return int((datetime.fromisoformat(day) - datetime(1970, 1, 1))
               .total_seconds()) * 1_000_000


def _days(rng: np.random.Generator, lo: str, hi: str, n: int) -> pa.Array:
    """Midnight timestamps drawn uniformly from [lo, hi]."""
    span = (_us(hi) - _us(lo)) // _DAY_US
    us = _us(lo) + rng.integers(0, span + 1, n) * _DAY_US
    return pa.array(us, pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: list[str], n: int,
          p: list[float] | None = None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)],
                    pa.string())


def _documents(rng: np.random.Generator, n: int) -> dict:
    vocab = np.asarray(VOCAB, dtype=object)
    lengths = rng.integers(10, 101, n)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), k)]) for k in lengths]
    # near and exact duplicates copy an earlier document, so each pair
    # has one original and one copy
    copies = rng.choice(np.arange(1, n), max(2, n * 52 // 1000), replace=False)
    n_exact = max(1, n * 16 // 10_000)
    for i, dst in enumerate(copies):
        src = int(rng.integers(0, dst))
        texts[dst] = texts[src] if i < n_exact else texts[src] + " dup"
    return {
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": _pick(rng, LANGS, n, LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }


def _embeddings(rng: np.random.Generator, n: int) -> dict:
    x = rng.standard_normal((n, EMBED_DIM)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    flat = pa.array(x.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, n * EMBED_DIM + 1, EMBED_DIM), pa.int32())
    return {
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    }


def _columns(name: str, rng: np.random.Generator, size: dict[str, int]) -> dict:
    n = size.get(name, 0)
    ids = pa.array(np.arange(n), pa.int64())
    if name == "region":
        return {"r_regionkey": pa.array(range(5), pa.int32()),
                "r_name": pa.array(REGIONS, pa.string())}
    if name == "nation":
        return {"n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}
    if name == "customer":
        return {"c_custkey": ids,
                "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)], pa.string()),
                "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
                "c_acctbal": _money(rng, -999.99, 9999.99, n),
                "c_mktsegment": _pick(rng, SEGMENTS, n)}
    if name == "supplier":
        return {"s_suppkey": ids,
                "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n)], pa.string()),
                "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
                "s_acctbal": _money(rng, -999.99, 9999.99, n)}
    if name == "part":
        adj = np.asarray(PART_ADJ, dtype=object)[rng.integers(0, 8, n)]
        noun = np.asarray(PART_NOUN, dtype=object)[rng.integers(0, 8, n)]
        return {"p_partkey": ids,
                "p_name": pa.array(adj + " " + noun, pa.string()),
                "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n)],
                                    pa.string()),
                "p_type": _pick(rng, PART_TYPES, n),
                "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
                "p_retailprice": np.round(900 + (np.arange(n) % 1000) / 10, 1)}
    if name == "orders":
        return {"o_orderkey": ids,
                "o_custkey": pa.array(rng.integers(0, size["customer"], n), pa.int64()),
                "o_orderstatus": _pick(rng, ["F", "O", "P"], n),
                "o_totalprice": _money(rng, 1000.0, 500000.0, n),
                "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n),
                "o_orderpriority": _pick(rng, PRIORITIES, n)}
    if name == "lineitem":
        return {"l_orderkey": pa.array(rng.integers(0, size["orders"], n), pa.int64()),
                "l_partkey": pa.array(rng.integers(0, size["part"], n), pa.int64()),
                "l_suppkey": pa.array(rng.integers(0, size["supplier"], n), pa.int64()),
                "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
                "l_quantity": rng.integers(1, 51, n).astype(np.float64),
                "l_extendedprice": rng.integers(900 * 4, 105000 * 4 + 1, n) / 4,
                "l_discount": rng.integers(0, 4, n) / 32,
                "l_tax": rng.integers(0, 3, n) / 32,
                "l_returnflag": _pick(rng, ["A", "N", "R"], n),
                "l_linestatus": _pick(rng, ["F", "O"], n),
                "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n)}
    if name == "events":
        # event_id follows time order, as in a stream log
        start = _us("2024-01-01")
        ts = np.sort(rng.integers(start, start + 30 * _DAY_US, n))
        return {"event_id": ids,
                "ts": pa.array(ts, pa.timestamp("us")),
                "user_id": pa.array(rng.integers(0, size["users"], n), pa.int64()),
                "event_type": _pick(rng, EVENT_TYPES, n),
                "value": np.round(rng.exponential(50.0, n), 2),
                "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
                                  pa.string())}
    if name == "documents":
        return _documents(rng, n)
    if name == "embeddings":
        return _embeddings(rng, n)
    raise ValueError(f"unknown table {name!r}")


def generate(out_dir: str, seed: int, scale: float) -> dict[str, int]:
    """Write every table under `out_dir` as ``<name>.parquet/part-*.parquet``
    and return the row count of each."""
    size = table_sizes(scale)
    rows = {}
    for idx, name in enumerate(TABLES):
        rng = np.random.default_rng([seed, idx])
        table = pa.table(_columns(name, rng, size))
        table = table.take(rng.permutation(table.num_rows))
        n_files = 1 if table.num_rows < 1000 else 4
        per_file = -(-table.num_rows // n_files)
        path = os.path.join(out_dir, f"{name}.parquet")
        os.makedirs(path, exist_ok=True)
        for f in range(n_files):
            part = table.slice(f * per_file, per_file)
            pq.write_table(part, os.path.join(path, f"part-{f:05d}.parquet"),
                           row_group_size=max(1, -(-part.num_rows // 4)))
        rows[name] = table.num_rows
    return rows

