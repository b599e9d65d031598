"""Deterministic synthetic tables for the benchmark.

Writes the ten parquet tables the query registry reads (a TPC-H-like
star schema, the ``events`` stream table, and the ``documents`` /
``embeddings`` corpora of the LLM-data operators) with the same
schemas, row counts per scale factor and value domains as the
repository's reference test data.  The tables depend only on the
scale factor and ``TABLE_SEED``, never on a run's ``--seed``: a run's
seed picks the request sequence and the stream's perturbations, so
runs with different seeds share one set of tables.

    python3 perfbench/datagen.py OUT_DIR [SCALE_FACTOR]
"""

from __future__ import annotations

import datetime as dt
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_SEED = 42
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["blue", "cold", "hot", "red", "small", "large", "green", "dark"]
_PART_NOUN = ["ring", "plate", "gear", "rod", "bolt", "nut", "pipe", "wheel"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
_EMBED_DIM = 64
_EMBED_CLUSTERS = 10


def _ts(days_since_epoch: np.ndarray) -> pa.Array:
    return pa.array(days_since_epoch.astype("int64") * 86_400_000_000, pa.timestamp("us"))


def _day(y: int, m: int, d: int) -> int:
    return (dt.date(y, m, d) - dt.date(1970, 1, 1)).days


def _write(out_dir: str, name: str, cols: dict[str, pa.Array]) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def generate(out_dir: str, sf: float, tables=TABLES) -> None:
    """Write ``tables`` (default: all) for scale factor ``sf`` into
    ``out_dir``.  Each of the four table families (the star schema,
    ``events``, ``documents``, ``embeddings``) draws from its own
    generator, so a table's values do not depend on which others are
    written."""
    os.makedirs(out_dir, exist_ok=True)
    unknown = set(tables) - set(TABLES)
    if unknown:
        raise ValueError(f"unknown tables: {sorted(unknown)}")
    n_cust = max(1, int(150_000 * sf))
    n_supp = max(1, int(10_000 * sf))
    n_part = max(1, int(200_000 * sf))
    n_ord = max(1, int(1_500_000 * sf))
    n_line = max(1, int(6_000_000 * sf))
    n_ev = max(1, int(1_000_000 * sf))
    n_users = max(10, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_vecs = max(500, int(20_000 * sf))

    if set(tables) & set(TABLES[:7]):
        _star(out_dir, tables, n_cust, n_supp, n_part, n_ord, n_line)
    if "events" in tables:
        _events(out_dir, n_ev, n_users)
    if "documents" in tables:
        _documents(out_dir, n_docs)
    if "embeddings" in tables:
        _embeddings(out_dir, n_vecs)


def _rng(family: int) -> np.random.Generator:
    return np.random.default_rng([TABLE_SEED, family])


def _star(out_dir, tables, n_cust, n_supp, n_part, n_ord, n_line) -> None:
    rng = _rng(0)

    def write(name, cols):
        if name in tables:
            _write(out_dir, name, cols)

    write("region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(_REGIONS),
    })
    write("nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    write("customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype="int64")),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype="int32")),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
        "c_mktsegment": pa.array(rng.choice(_SEGMENTS, n_cust)),
    })
    write("supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype="int64")),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype="int32")),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)),
    })
    names = [f"{a} {b}" for a in _PART_ADJ for b in _PART_NOUN]
    write("part", {
        "p_partkey": pa.array(np.arange(n_part, dtype="int64")),
        "p_name": pa.array(rng.choice(names, n_part)),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(rng.choice(_PART_TYPES, n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part, dtype="int32")),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1)),
    })

    first, last = _day(1995, 1, 1), _day(2001, 8, 1)
    order_day = rng.integers(first, last + 1, n_ord)
    write("orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype="int64")),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord)),
        "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500_000.0, n_ord), 2)),
        "o_orderdate": _ts(order_day),
        "o_orderpriority": pa.array(rng.choice(_PRIORITIES, n_ord)),
    })
    l_order = rng.integers(0, n_ord, n_line)
    qty = rng.integers(1, 51, n_line).astype("float64")
    write("lineitem", {
        "l_orderkey": pa.array(l_order),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line, dtype="int32")),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_line)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_line)),
        "l_shipdate": _ts(order_day[l_order] + rng.integers(1, 96, n_line)),
    })


def _events(out_dir, n_ev, n_users) -> None:
    """One month of distinct, increasing timestamps."""
    rng = _rng(1)
    start_us = _day(2024, 1, 1) * 86_400_000_000
    span_us = 30 * 86_400_000_000
    ts = start_us + np.sort(rng.choice(span_us, n_ev, replace=False))
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_ev, dtype="int64")),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev)),
        "event_type": pa.array(rng.choice(_EVENT_TYPES, n_ev)),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    })


def _documents(out_dir, n_docs) -> None:
    """Random word sequences; 5 % are near-duplicates of an earlier
    document (its text plus a marker word), 0.2 % exact copies."""
    rng = _rng(2)
    texts: list[str] = []
    for i in range(n_docs):
        r = rng.random()
        if i > 0 and r < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 0 and r < 0.052:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            texts.append(" ".join(rng.choice(_WORDS, int(rng.integers(10, 101)))))
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(n_docs, dtype="int64")),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(_LANGS, n_docs, p=_LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype="int64")),
    })


def _embeddings(out_dir, n_vecs) -> None:
    """Unit vectors scattered around ten cluster centroids."""
    rng = _rng(3)
    centroids = rng.normal(0.0, 1.0, (_EMBED_CLUSTERS, _EMBED_DIM))
    labels = rng.integers(0, _EMBED_CLUSTERS, n_vecs)
    vecs = centroids[labels] + rng.normal(0.0, 1.5, (n_vecs, _EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_vecs, dtype="int64")),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels.astype("int32")),
    })


if __name__ == "__main__":
    generate(sys.argv[1], float(sys.argv[2]) if len(sys.argv) > 2 else 0.1)
