"""Synthetic catalog inputs with the schema of the engine's test tables.

The catalog queries read ten parquet tables (TPC-H-like star schema, an
``events`` stream, ``documents`` and ``embeddings``). The benchmark makes
its own copy inside its run directory so that it reads nothing outside
the checkout. Row counts scale with ``scale`` (1.0 = 60 M lineitem rows,
as in TPC-H); value ranges and types follow the engine's test tables, so
every catalog query and its DuckDB oracle run unchanged.

The data depends only on ``scale`` and the fixed ``DATA_SEED``: every run
of a workload reads identical inputs, and the benchmark's ``--seed``
varies only the order in which operations are issued.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_ADJ = ["small", "large", "hot", "cold", "red", "blue", "old", "new"]
_NOUN = ["ring", "bolt", "gear", "plate", "widget", "gizmo", "rod", "anvil"]
_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["de", "en", "es", "fr", "zh"]
_WORDS = ("a the row query stream fast spark line small customer group value "
          "hash batch sort data big filter dup key agg scan slow table part "
          "merge window order column join vector").split()
_EMBED_DIM = 64


def _ts_days(rng, n: int, start: str, days: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    day_us = np.int64(86_400_000_000)
    return base + rng.integers(0, days, n).astype(np.int64) * day_us


def _write(out_dir: str, name: str, table: pa.Table) -> None:
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def generate(out_dir: str, scale: float) -> None:
    """Write the ten tables under ``out_dir``."""
    rng = np.random.default_rng(DATA_SEED)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp = int(150_000 * scale), int(10_000 * scale)
    n_part, n_ord = int(200_000 * scale), int(1_500_000 * scale)
    n_line, n_evt = int(6_000_000 * scale), int(1_000_000 * scale)
    n_doc, n_emb = int(50_000 * scale), int(50_000 * scale)
    n_users = int(15_000 * scale)

    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": _REGIONS}),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
        "customer": pa.table({
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": rng.choice(_SEGMENTS, n_cust)}),
        "supplier": pa.table({
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)}),
        "part": pa.table({
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [f"{a} {b}" for a, b in zip(rng.choice(_ADJ, n_part),
                                                   rng.choice(_NOUN, n_part))],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(_TYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": 900.0 + (np.arange(n_part) % 1000) / 10.0}),
        "orders": pa.table({
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
            "o_orderdate": _ts_days(rng, n_ord, "1995-01-01", 2404),
            "o_orderpriority": rng.choice(_PRIORITIES, n_ord)}),
    }

    qty = rng.integers(1, 51, n_line).astype(np.float64)
    tables["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _ts_days(rng, n_line, "1995-01-02", 2498)})

    # distinct, sorted event times spread over January 2024
    span_us = 30 * 86_400_000_000
    offsets = np.sort(rng.choice(span_us, n_evt, replace=False))
    tables["events"] = pa.table({
        "event_id": np.arange(n_evt, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us") + offsets.astype(np.int64),
        "user_id": rng.integers(0, n_users, n_evt).astype(np.int64),
        "event_type": rng.choice(_EVENT_TYPES, n_evt),
        "value": np.round(rng.uniform(0.01, 490.0, n_evt), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]})

    texts = [" ".join(rng.choice(_WORDS, int(k)))
             for k in rng.integers(10, 100, n_doc)]
    tables["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(_LANGS, n_doc),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})

    labels = rng.integers(0, 10, n_emb)
    centroids = rng.normal(size=(10, _EMBED_DIM))
    vecs = centroids[labels] + rng.normal(scale=1.5, size=(n_emb, _EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels.astype(np.int32)})

    for name, table in tables.items():
        _write(out_dir, name, table)
