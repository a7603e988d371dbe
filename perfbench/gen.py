"""Seeded input generation for the benchmark.

Every input a workload reads is derived from the run's ``--seed``: the
TPC-H-style star schema plus the ``events``, ``documents`` and
``embeddings`` tables the catalog queries scan, the document
micro-batches of the streaming workload, and the dirty crimes CSV of the
ML workload. The same seed gives byte-identical inputs.

The table shapes follow the engine's test data (column names, types,
value domains): ``documents`` plants near-duplicates by appending a
token to a copy of an earlier document, so the near-dup operators find
real pairs; ``events.ts`` rises with ``event_id`` over one month.
"""

from __future__ import annotations

import csv
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "row the query stream fast spark line small customer group value hash "
    "batch sort data big filter dup key agg scan slow table part a merge "
    "window order column join vector"
).split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
PART_ADJ = ["small", "red", "blue", "hot", "old", "new", "big", "green"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "anvil", "rod", "nut"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
LANGS = ["en", "zh", "de", "fr", "es"]

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _doc_text(rng, n_words: int) -> str:
    return " ".join(WORDS[i] for i in rng.integers(0, len(WORDS), n_words))


def star_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """All ten catalog tables at scale factor ``sf`` (sf0.01 ≈ 60k
    lineitem rows), keyed by table name."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc = n_vec = int(50_000 * sf)
    n_users = max(10, int(15_000 * sf))
    t: dict[str, pa.Table] = {}

    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    adj = rng.integers(0, len(PART_ADJ), n_part)
    noun = rng.integers(0, len(PART_NOUN), n_part)
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part, dtype=np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2),
    })
    order_days = rng.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _ts(_EPOCH_1995 + order_days * _DAY_US),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)],
    })
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line, dtype=np.int64),
        "l_partkey": rng.integers(0, n_part, n_line, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, n_line, dtype=np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_line)],
        "l_linestatus": [("O", "F")[i] for i in rng.integers(0, 2, n_line)],
        "l_shipdate": _ts(_EPOCH_1995 + rng.integers(1, 2500, n_line) * _DAY_US),
    })
    gaps = rng.exponential(30 * _DAY_US / n_ev, n_ev)
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(_EPOCH_2024 + np.cumsum(gaps).astype(np.int64)),
        "user_id": rng.integers(0, n_users, n_ev, dtype=np.int64),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev) + 0.01, 2),
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, n_ev)],
    })
    texts: list[str] = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.05:  # planted near-dup
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(_doc_text(rng, int(rng.integers(8, 90))))
    t["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, 5, n_doc)],
        "source": [f"src{i}" for i in rng.integers(0, 20, n_doc)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    })
    vecs = rng.normal(0.0, 1.0, (n_vec, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_vec, dtype=np.int32),
    })
    return t


def write_star(seed: int, sf: float, out_dir: str) -> str:
    """Write every catalog table as ``<out_dir>/<name>.parquet`` and
    return ``out_dir`` (the ``sf_dir`` the catalog queries take)."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in star_tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


def split_batches(doc_ids, seed: int, n_batches: int) -> list[list[int]]:
    """Micro-batch assignment of documents: a seeded hash of ``doc_id``
    picks each document's batch, so batch membership is a pure function
    of (seed, id)."""
    out: list[list[int]] = [[] for _ in range(n_batches)]
    for d in doc_ids:
        h = (int(d) * 0x9E3779B97F4A7C15 + seed * 0xBF58476D1CE4E5B9) & (2**64 - 1)
        out[(h >> 17) % n_batches].append(int(d))
    return out


def write_crimes_csv(seed: int, rows: int, path: str) -> int:
    """Write the dirty crimes CSV produced by the ``crimes_synthetic``
    source's reader (header row, embedded header rows, unparseable
    dates, exact duplicates) and return the number of data rows."""
    from chicago_crime_spark_ml_spark.sources.crimes_source import (
        _COLS,
        _CrimesReader,
    )
    from pyspark.sql.datasource import InputPartition

    reader = _CrimesReader({"rows": rows, "seed": seed, "partitions": 1})
    n = 0
    with open(path, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(_COLS)
        for row in reader.read(InputPartition(0)):
            w.writerow(row)
            n += 1
    return n
