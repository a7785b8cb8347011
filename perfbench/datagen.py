"""Seeded inputs for every workload.  Pure numpy/pyarrow: no Spark,
so data generation is timed apart from the engine it feeds.

- :func:`pu_table`        a Gaussian PU table with a hidden true class
- :func:`docs_rows`       ``jsonl_docs`` rows (the lake schema)
- :func:`write_registry_tables`  the ten star-schema/event/text/vector
  tables the registry queries read, in the layout the package expects
  (``<dir>/<name>.parquet``)
"""

from __future__ import annotations

import os
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "the a fast slow big small key order sort table scan merge part window "
    "hash join batch stream spark group query row data filter customer line "
    "agg value vector column"
).split()
LANGS = ("en", "en", "en", "de", "es", "fr", "zh")


def pu_table(seed: int, n: int, dim: int = 16, pos_frac: float = 0.3,
             label_frac: float = 0.3, shift: float = 1.0):
    """PU table: ``id``, ``label`` (1 = labeled positive, 0 = unlabeled)
    and ``features`` (``array<float>``).  Returns the Arrow table and the
    hidden true class (bool array indexed by id)."""
    rng = np.random.default_rng(seed)
    truth = rng.random(n) < pos_frac
    x = rng.normal(size=(n, dim)) + truth[:, None] * shift
    label = truth & (rng.random(n) < label_frac)
    feats = pa.FixedSizeListArray.from_arrays(
        pa.array(x.astype(np.float32).ravel()), dim
    ).cast(pa.list_(pa.float32()))
    table = pa.table({
        "id": pa.array(np.arange(n, dtype=np.int64)),
        "label": pa.array(label.astype(np.int32)),
        "features": feats,
    })
    return table, truth


def _texts(rng, n: int, lo: int = 5, hi: int = 40) -> list[str]:
    lens = rng.integers(lo, hi, size=n)
    picks = rng.integers(0, len(WORDS), size=int(lens.sum()))
    out, at = [], 0
    for k in lens:
        out.append(" ".join(WORDS[i] for i in picks[at:at + k]))
        at += k
    return out


def docs_rows(rng, ids) -> dict[str, list]:
    """Column dict for ``jsonl_docs`` rows with the given doc ids."""
    ids = [int(i) for i in ids]
    texts = _texts(rng, len(ids))
    return {
        "doc_id": ids,
        "text": texts,
        "lang": [LANGS[int(rng.integers(len(LANGS)))] for _ in ids],
        "source": [f"src{int(rng.integers(20))}" for _ in ids],
        "n_chars": [len(t) for t in texts],
    }


def registry_tables(seed: int, scale: float = 1.0) -> dict[str, pa.Table]:
    """The package's ten input tables (schemas as in FIXTURES.md).
    ``scale=1`` is the size of the smallest published test scale
    (lineitem ≈ 6k rows)."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150 * scale), max(10, int(10 * scale)), int(200 * scale)
    n_ord, n_line, n_ev = int(1500 * scale), int(6000 * scale), int(1000 * scale)
    n_docs = n_emb = 500
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    segs = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": [segs[i] for i in rng.integers(0, 5, n_cust)],
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    adj = "blue hot small old red new cold large".split()
    noun = "bolt gear anvil ring widget rod plate gizmo".split()
    types = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
    t["part"] = pa.table({
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in zip(
            rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": [types[i] for i in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": [round(900 + (i % 1000) * 0.1, 1) for i in range(n_part)],
    })
    epoch = datetime(1995, 1, 1)
    t["orders"] = pa.table({
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": pa.array(
            [epoch + timedelta(days=int(d)) for d in rng.integers(0, 2404, n_ord)],
            pa.timestamp("ms")),
        "o_orderpriority": [
            ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")[i]
            for i in rng.integers(0, 5, n_ord)],
    })
    qty = rng.integers(1, 51, n_line).astype(float)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_line), 2),
        "l_discount": np.round(rng.integers(0, 11, n_line) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, n_line) / 100, 2),
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_line)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_line)],
        "l_shipdate": pa.array(
            [epoch + timedelta(days=int(d)) for d in rng.integers(1, 2500, n_line)],
            pa.timestamp("ms")),
    })
    gaps = rng.exponential(30 * 86400 / n_ev, n_ev)
    ts0 = datetime(2024, 1, 1)
    ev_types = ["click", "signup", "error", "view", "purchase"]
    t["events"] = pa.table({
        "event_id": pa.array(range(n_ev), pa.int64()),
        "ts": pa.array([ts0 + timedelta(seconds=float(s)) for s in np.cumsum(gaps)],
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(15, n_ev // 66), n_ev), pa.int64()),
        "event_type": [ev_types[i] for i in rng.integers(0, 5, n_ev)],
        "value": np.round(rng.uniform(0.01, 490.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    # documents: word soup with planted near-duplicates (an earlier
    # document's text plus trailing "dup" tokens)
    texts = _texts(rng, n_docs, 10, 100)
    for i in range(n_docs):
        if i > 4 and rng.random() < 0.05:
            texts[i] = texts[int(rng.integers(0, i))] + " dup" * int(rng.integers(1, 4))
    t["documents"] = pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64()),
    })
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(size=(10, 64)) * 0.05
    vec = rng.normal(size=(n_emb, 64)) + centers[labels] * 8
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(range(n_emb), pa.int64()),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(vec.astype(np.float32).ravel()), 64).cast(pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return t


def write_registry_tables(out_dir: str, seed: int, scale: float = 1.0) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in registry_tables(seed, scale).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
