"""Deterministic benchmark inputs.

The engine's queries read ten parquet tables from one ``sf_dir`` (a
TPC-H-like star schema plus ``events``, ``documents`` and
``embeddings``). This module writes tables with the same names, column
types and value domains, so every benchmark key runs and its DuckDB
oracle can be evaluated over the same files.

Two seeds are kept apart on purpose:

- the *data* seed (:data:`DATA_SEED`) fixes the tables. Every run of
  every workload sees the same rows, so outputs can be hash-checked
  and timings compared across runs;
- the *workload* seed (``--seed``) only sets the key order of each pass
  and the row permutation of the lineitem copy that ``ingest_copy``
  imports (:func:`key_order`, :func:`write_ingest_copy`).
"""

from __future__ import annotations

import datetime as dt
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42

#: the tables the engine's queries and oracles read
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_FLAGS = [("A", "F"), ("A", "O"), ("N", "F"), ("N", "O"), ("R", "F"), ("R", "O")]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]


def table_rows(sf: float) -> dict[str, int]:
    """Row count per table at scale factor ``sf`` (the ratios of the
    test tables described in TESTDATA.md)."""
    return {
        "region": 5,
        "nation": 25,
        "customer": max(10, round(150_000 * sf)),
        "supplier": max(5, round(10_000 * sf)),
        "part": max(20, round(200_000 * sf)),
        "orders": max(50, round(1_500_000 * sf)),
        "lineitem": max(200, round(6_000_000 * sf)),
        "events": max(100, round(1_000_000 * sf)),
        "documents": max(500, round(50_000 * sf)),
        "embeddings": max(500, round(20_000 * sf)),
    }


def _days(rng: np.random.Generator, start: dt.date, end: dt.date, n: int):
    span = (end - start).days
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span + 1, n).astype("timedelta64[D]")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0, 2)


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 20 and r < 0.05:  # near-duplicate: an earlier doc plus a marker
            texts.append(texts[int(rng.integers(0, i))] + " dup" * int(rng.integers(1, 3)))
        elif i > 20 and r < 0.052:  # exact duplicate
            texts.append(texts[int(rng.integers(0, i))])
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(_WORDS[j] for j in rng.integers(0, len(_WORDS), k)))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(rng.choice(_LANGS, n, p=_LANG_P), pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    v = rng.standard_normal((n, dim)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    flat = pa.array(v.reshape(-1), pa.float32())
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.ListArray.from_arrays(
                pa.array(np.arange(0, n * dim + 1, dim), pa.int32()), flat
            ),
            "label": pa.array(rng.integers(0, 10, n), pa.int32()),
        }
    )


def _build(name: str, sf: float) -> pa.Table:
    """Table ``name`` at scale factor ``sf``. Each table draws from its own
    stream of :data:`DATA_SEED`, so one table can be built alone."""
    rows = table_rows(sf)
    rng = np.random.default_rng([DATA_SEED, TABLES.index(name)])
    n = rows[name]
    if name == "region":
        return pa.table(
            {
                "r_regionkey": pa.array(range(5), pa.int32()),
                "r_name": pa.array(_REGIONS, pa.string()),
            }
        )
    if name == "nation":
        return pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        )
    if name == "customer":
        return pa.table(
            {
                "c_custkey": pa.array(np.arange(n), pa.int64()),
                "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)]),
                "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
                "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n)),
                "c_mktsegment": pa.array(rng.choice(_SEGMENTS, n), pa.string()),
            }
        )
    if name == "supplier":
        return pa.table(
            {
                "s_suppkey": pa.array(np.arange(n), pa.int64()),
                "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n)]),
                "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
                "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n)),
            }
        )
    if name == "part":
        adj, noun = rng.integers(0, 8, n), rng.integers(0, 8, n)
        return pa.table(
            {
                "p_partkey": pa.array(np.arange(n), pa.int64()),
                "p_name": pa.array(
                    [f"{_ADJ[a]} {_NOUN[b]}" for a, b in zip(adj, noun)], pa.string()
                ),
                "p_brand": pa.array(
                    [f"Brand#{b}" for b in rng.integers(1, 26, n)], pa.string()
                ),
                "p_type": pa.array(rng.choice(_PTYPES, n), pa.string()),
                "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
                "p_retailprice": pa.array(np.round(900 + (np.arange(n) % 1000) / 10.0, 1)),
            }
        )
    if name == "orders":
        return pa.table(
            {
                "o_orderkey": pa.array(np.arange(n), pa.int64()),
                "o_custkey": pa.array(rng.integers(0, rows["customer"], n), pa.int64()),
                "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n), pa.string()),
                "o_totalprice": pa.array(_money(rng, 1000, 500_000, n)),
                "o_orderdate": pa.array(
                    _days(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1), n),
                    pa.timestamp("us"),
                ),
                "o_orderpriority": pa.array(rng.choice(_PRIORITIES, n), pa.string()),
            }
        )
    if name == "lineitem":
        flags = np.array(_FLAGS)[rng.integers(0, len(_FLAGS), n)]
        return pa.table(
            {
                "l_orderkey": pa.array(rng.integers(0, rows["orders"], n), pa.int64()),
                "l_partkey": pa.array(rng.integers(0, rows["part"], n), pa.int64()),
                "l_suppkey": pa.array(rng.integers(0, rows["supplier"], n), pa.int64()),
                "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
                "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
                "l_extendedprice": pa.array(_money(rng, 900, 105_000, n)),
                "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
                "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
                "l_returnflag": pa.array(flags[:, 0], pa.string()),
                "l_linestatus": pa.array(flags[:, 1], pa.string()),
                "l_shipdate": pa.array(
                    _days(rng, dt.date(1995, 1, 2), dt.date(2001, 11, 4), n),
                    pa.timestamp("us"),
                ),
            }
        )
    if name == "events":
        gaps = rng.exponential(30 * 86_400e6 / n, n)
        return pa.table(
            {
                "event_id": pa.array(np.arange(n), pa.int64()),
                "ts": pa.array(
                    np.datetime64("2024-01-01T00:00:00", "us")
                    + np.cumsum(gaps).astype("timedelta64[us]"),
                    pa.timestamp("us"),
                ),
                "user_id": pa.array(rng.integers(0, max(10, n // 66), n), pa.int64()),
                "event_type": pa.array(rng.choice(_EVENT_TYPES, n), pa.string()),
                "value": pa.array(np.maximum(0.01, np.round(rng.exponential(50.0, n), 2))),
                "props": pa.array(
                    [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], pa.string()
                ),
            }
        )
    if name == "documents":
        return _documents(rng, n)
    if name == "embeddings":
        return _embeddings(rng, n)
    raise ValueError(f"unknown table {name!r}")


def _write(table: pa.Table, path: str) -> None:
    # one row group per file, like the test tables
    pq.write_table(table, path, row_group_size=max(1, table.num_rows))


def write_tables(sf: float, sf_dir: str) -> dict[str, int]:
    """Write every table at scale factor ``sf`` under ``sf_dir``; returns
    rows per table."""
    os.makedirs(sf_dir, exist_ok=True)
    out = {}
    for name in TABLES:
        table = _build(name, sf)
        _write(table, os.path.join(sf_dir, f"{name}.parquet"))
        out[name] = table.num_rows
    return out


def write_ingest_copy(sf: float, dst_dir: str, seed: int) -> int:
    """Write the lineitem table at scale factor ``sf`` to ``dst_dir`` in a
    ``seed``-permuted row order; returns the row count."""
    table = _build("lineitem", sf)
    perm = np.random.default_rng(seed).permutation(table.num_rows)
    os.makedirs(dst_dir, exist_ok=True)
    _write(table.take(pa.array(perm)), os.path.join(dst_dir, "lineitem.parquet"))
    return table.num_rows


def key_order(keys: list[str], seed: int, pass_no: int) -> list[str]:
    """The key order of pass ``pass_no`` under workload seed ``seed``."""
    order = list(keys)
    random.Random(f"{seed}:{pass_no}").shuffle(order)
    return order
