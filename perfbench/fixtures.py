"""Seeded fixture tables for the benchmark.

Writes the same ten tables, with the same column names and types, as the
TPC-H-like star schema the engine's queries are written against (see
FIXTURES.md): ``region nation customer supplier part orders lineitem events
documents embeddings``. Each table is one parquet file with one row group,
like the fixtures the engine is tested on, so scans run as one task.

The value domains follow those fixtures closely enough that every query in
the benchmark has a non-trivial answer: the literal names the queries filter
on (``EUROPE``, ``NATION_5``, ``Brand#12``, ``small%``, ``PROMO`` ...) exist,
the date ranges overlap the queries' windows, and about one document in
twenty is a near-duplicate of an earlier one so the dedup operators find
pairs. The same seed and scale always give byte-identical inputs.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_P_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_P_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["de", "en", "en", "en", "es", "fr", "zh"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_EMB_DIM = 64


def row_counts(sf: float) -> dict[str, int]:
    """Rows per table at scale factor ``sf`` (TPC-H ratios for the star)."""
    return {
        "region": 5,
        "nation": 25,
        "customer": max(10, round(150_000 * sf)),
        "supplier": max(10, round(10_000 * sf)),
        "part": max(20, round(200_000 * sf)),
        "orders": max(100, round(1_500_000 * sf)),
        "lineitem": max(400, round(6_000_000 * sf)),
        "events": max(100, round(1_000_000 * sf)),
        "documents": max(500, round(50_000 * sf)),
        "embeddings": max(500, round(20_000 * sf)),
    }


def _days(rng: np.random.Generator, start: dt.date, end: dt.date, n: int) -> np.ndarray:
    span = (end - start).days
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0, 2)


def _pick(rng: np.random.Generator, values: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def _tables(sf: float, seed: int) -> dict[str, pa.Table]:
    n = row_counts(sf)
    # one independent stream per table, so a table's content does not
    # depend on the row counts of the tables generated before it
    rng = {t: np.random.default_rng([seed, i]) for i, t in enumerate(TABLES)}
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })

    r, k = rng["customer"], n["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(k, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(k)],
        "c_nationkey": pa.array(r.integers(0, 25, k, dtype=np.int32)),
        "c_acctbal": _money(r, -999.99, 9999.99, k),
        "c_mktsegment": _pick(r, _SEGMENTS, k),
    })

    r, k = rng["supplier"], n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(k, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(k)],
        "s_nationkey": pa.array(r.integers(0, 25, k, dtype=np.int32)),
        "s_acctbal": _money(r, -999.99, 9999.99, k),
    })

    r, k = rng["part"], n["part"]
    names = [f"{a} {b}" for a in _P_ADJ for b in _P_NOUN]
    keys = np.arange(k, dtype=np.int64)
    out["part"] = pa.table({
        "p_partkey": pa.array(keys),
        "p_name": _pick(r, names, k),
        "p_brand": _pick(r, [f"Brand#{i}" for i in range(1, 26)], k),
        "p_type": _pick(r, _P_TYPES, k),
        "p_size": pa.array(r.integers(1, 51, k, dtype=np.int32)),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 2),
    })

    r, k = rng["orders"], n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(k, dtype=np.int64)),
        "o_custkey": pa.array(r.integers(0, n["customer"], k, dtype=np.int64)),
        "o_orderstatus": _pick(r, ["F", "O", "P"], k),
        "o_totalprice": _money(r, 1000.0, 500000.0, k),
        "o_orderdate": _days(r, dt.date(1995, 1, 1), dt.date(2001, 8, 1), k),
        "o_orderpriority": _pick(r, _PRIORITIES, k),
    })

    r, k = rng["lineitem"], n["lineitem"]
    qty = r.integers(1, 51, k).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(np.sort(r.integers(0, n["orders"], k, dtype=np.int64))),
        "l_partkey": pa.array(r.integers(0, n["part"], k, dtype=np.int64)),
        "l_suppkey": pa.array(r.integers(0, n["supplier"], k, dtype=np.int64)),
        "l_linenumber": pa.array(r.integers(1, 8, k, dtype=np.int32)),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * _money(r, 900.0, 2100.0, k), 2),
        "l_discount": r.integers(0, 11, k) / 100.0,
        "l_tax": r.integers(0, 9, k) / 100.0,
        "l_returnflag": _pick(r, ["A", "N", "R"], k),
        "l_linestatus": _pick(r, ["F", "O"], k),
        "l_shipdate": _days(r, dt.date(1995, 1, 2), dt.date(2001, 11, 4), k),
    })

    r, k = rng["events"], n["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us")
    month_us = 30 * 24 * 3600 * 1_000_000
    ts = np.sort(start + r.integers(0, month_us, k).astype("timedelta64[us]"))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(k, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(r.integers(0, 150, k, dtype=np.int64)),
        "event_type": _pick(r, _EVENT_TYPES, k),
        "value": np.round(np.maximum(r.exponential(50.0, k), 0.01), 2),
        "props": [f'{{"k": {v}}}' for v in r.integers(0, 100, k)],
    })

    r, k = rng["documents"], n["documents"]
    words = np.asarray(_WORDS, dtype=object)
    texts: list[str] = []
    for i in range(k):
        if i > 10 and r.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(r.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(words[r.integers(0, len(words), int(r.integers(10, 100)))]))
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(k, dtype=np.int64)),
        "text": texts,
        "lang": _pick(r, _LANGS, k),
        "source": [f"src{i % 20}" for i in range(k)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })

    r, k = rng["embeddings"], n["embeddings"]
    centers = r.normal(0.0, 1.0, (10, _EMB_DIM))
    labels = r.integers(0, 10, k)
    vecs = centers[labels] + r.normal(0.0, 1.0, (k, _EMB_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(k, dtype=np.int64)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    })
    return out


def write_fixtures(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write every table to ``out_dir/<table>.parquet``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, table in _tables(sf, seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=max(1, table.num_rows))
        counts[name] = table.num_rows
    return counts
