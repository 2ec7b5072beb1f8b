"""Seeded analytics tables for the query-suite workload.

Writes the ten tables the query registry reads (`tables.TABLE_NAMES`),
one parquet file each, with the column names and types of the repository's
synthetic star schema (FIXTURES.md section B). `events.ts` is stored as
TIMESTAMP(NANOS), like the original files, so `tables.load_table`'s nanos
conversion runs. `scale=1.0` gives sf0.01-sized tables (60k lineitem
rows); every table is a pure function of the seed.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "the a of and to key agg row scan slow fast table value part hash data "
    "window spark order column join small line customer query batch filter "
    "index merge sort stream"
).split()
LANGS = np.array(["en", "zh", "de", "fr", "es"])
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
SEGMENTS = np.array(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
EVENT_TYPES = np.array(["click", "signup", "error", "view", "purchase"])
DAY_US = 86_400 * 1_000_000
EPOCH_1995_US = 788_918_400 * 1_000_000  # 1995-01-01
EPOCH_2024_NS = 1_704_067_200 * 1_000_000_000  # 2024-01-01


def _write(out_dir: str, name: str, table: pa.Table) -> None:
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng, n_docs: int) -> pa.Table:
    texts = []
    for _ in range(n_docs):
        n_tok = int(rng.integers(10, 100))
        texts.append(" ".join(rng.choice(VOCAB, n_tok)))
    # near-duplicates (one token changed) and normalisation duplicates
    # (case and spacing), so the dedup queries have work to find
    for i in range(0, n_docs, 17):
        src = texts[int(rng.integers(0, n_docs))].split(" ")
        src[int(rng.integers(0, len(src)))] = str(rng.choice(VOCAB))
        texts[i] = " ".join(src)
    for i in range(5, n_docs, 41):
        texts[i] = "  " + texts[int(rng.integers(0, n_docs))].upper() + " "
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(rng.choice(LANGS, n_docs, p=LANG_P)),
            "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n_docs)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def _embeddings(rng, n: int, dim: int = 64, n_labels: int = 10) -> pa.Table:
    centers = rng.normal(0.0, 0.12, (n_labels, dim))
    labels = rng.integers(0, n_labels, n)
    vecs = (centers[labels] + rng.normal(0.0, 0.1, (n, dim))).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": pa.array(labels.astype(np.int32)),
        }
    )


def write_tables(out_dir: str, seed: int, scale: float = 1.0) -> dict[str, int]:
    """Write all tables under `out_dir`; returns row counts by table."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust = max(50, int(1500 * scale))
    n_supp = max(10, int(100 * scale))
    n_part = max(50, int(2000 * scale))
    n_orders = max(200, int(15000 * scale))
    n_line = max(800, int(60000 * scale))
    n_users = max(20, n_cust // 10)
    n_events = max(500, int(10000 * scale))
    n_docs = max(100, int(500 * scale))

    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table(
        {
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    tables["nation"] = pa.table(
        {
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
        }
    )
    tables["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
            "c_acctbal": pa.array(_money(rng, n_cust, -999.0, 9999.0)),
            "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust)),
        }
    )
    tables["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
            "s_acctbal": pa.array(_money(rng, n_supp, -999.0, 9999.0)),
        }
    )
    adjectives = np.array(["small", "red", "blue", "large", "green"])
    nouns = np.array(["ring", "widget", "bolt", "gear", "valve"])
    tables["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
            "p_name": pa.array(
                np.char.add(np.char.add(rng.choice(adjectives, n_part), " "), rng.choice(nouns, n_part))
            ),
            "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n_part)],
            "p_type": pa.array(rng.choice(np.array(["ECONOMY", "SMALL", "STANDARD", "PROMO"]), n_part)),
            "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
            "p_retailprice": pa.array(np.round(900.0 + np.arange(n_part) * 0.1, 2)),
        }
    )
    order_days = rng.integers(0, 2404, n_orders)  # 1995-01-01 .. 2001-08-01
    tables["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_orders, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_orders).astype(np.int64)),
            "o_orderstatus": pa.array(rng.choice(np.array(["F", "O", "P"]), n_orders)),
            "o_totalprice": pa.array(_money(rng, n_orders, 1000.0, 500000.0)),
            "o_orderdate": pa.array(EPOCH_1995_US + order_days * DAY_US, type=pa.timestamp("us")),
            "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_orders)),
        }
    )
    l_order = rng.integers(0, n_orders, n_line)
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(l_order.astype(np.int64)),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line).astype(np.int64)),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line).astype(np.int64)),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
            "l_quantity": pa.array(qty),
            "l_extendedprice": pa.array(np.round(qty * rng.uniform(900.0, 2000.0, n_line), 2)),
            "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
            "l_returnflag": pa.array(rng.choice(np.array(["A", "N", "R"]), n_line)),
            "l_linestatus": pa.array(rng.choice(np.array(["F", "O"]), n_line)),
            "l_shipdate": pa.array(
                EPOCH_1995_US + (order_days[l_order] + rng.integers(1, 120, n_line)) * DAY_US,
                type=pa.timestamp("us"),
            ),
        }
    )
    gaps_ns = rng.exponential(30 * 86_400 / n_events, n_events) * 1e9
    ts = EPOCH_2024_NS + np.cumsum(gaps_ns).astype(np.int64)
    ts -= ts % 1000  # microsecond-exact, as the original files are
    tables["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
            "ts": pa.array(ts, type=pa.timestamp("ns")),
            "user_id": pa.array(rng.integers(0, n_users, n_events).astype(np.int64)),
            "event_type": pa.array(rng.choice(EVENT_TYPES, n_events)),
            "value": pa.array(np.round(rng.exponential(60.0, n_events) + 0.01, 2)),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
        }
    )
    tables["documents"] = _documents(rng, n_docs)
    tables["embeddings"] = _embeddings(rng, n_docs)
    for name, table in tables.items():
        _write(out_dir, name, table)
    return {name: t.num_rows for name, t in tables.items()}
