"""Seeded parquet tables for the catalog workload.

Writes every table the catalog reads (``schemas.TESTDATA_TABLES``) with the
schemas and value distributions of the engine's test data.  Row counts
follow the scale factor (sf1 = 1M events, 6M lineitem, 50k documents, 20k
embeddings); ``nation`` and ``region`` are the fixed TPC-H dimensions.  The
same seed and scale give the same files.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a agg batch big column customer data dup fast filter group hash "
         "join key line merge order part query row scan slow small sort "
         "spark stream table the value vector window").split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.412, 0.150, 0.149, 0.148, 0.141]
EVENTS = ["signup", "purchase", "view", "click", "error"]
ADJ = "large hot blue red green cold dim shiny".split()
NOUN = "ring bolt gear cog pin rod cap hub".split()
TYPES = ["ECONOMY", "LARGE", "STANDARD", "MEDIUM", "SMALL", "PROMO"]
SEGS = ["FURNITURE", "MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD"]
PRIOS = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
#: rows per table at sf1
SF1_ROWS = {
    "documents": 50_000, "embeddings": 20_000, "events": 1_000_000,
    "lineitem": 6_000_000, "orders": 1_500_000, "part": 200_000,
    "customer": 150_000, "supplier": 10_000, "users": 15_000,
}


def _days(rng: np.random.Generator, n: int, span: int) -> pa.Array:
    d = rng.integers(0, span, n).astype("timedelta64[D]").astype("timedelta64[us]")
    return pa.array(np.datetime64("1995-01-01", "us") + d, pa.timestamp("us"))


def _money(rng: np.random.Generator, n: int, lo: float, width: float) -> np.ndarray:
    return np.round(lo + rng.random(n) * width, 2)


def _tables(rng: np.random.Generator, n: dict[str, int]) -> dict[str, pa.Table]:
    out: dict[str, pa.Table] = {}

    n_doc = n["documents"]
    n_words = rng.integers(8, 97, n_doc)
    words = np.array(VOCAB, dtype=object)[rng.integers(0, len(VOCAB), int(n_words.sum()))]
    offs = np.concatenate(([0], np.cumsum(n_words)))
    texts = [" ".join(words[offs[i]:offs[i + 1]]) for i in range(n_doc)]
    out["documents"] = pa.table({
        "doc_id": pa.array(range(n_doc), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, n_doc, p=LANG_P), pa.string()),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n_doc)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })

    n_emb = n["embeddings"]
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0.0, 0.08, (10, 64))
    vecs = (centers[labels] + rng.normal(0.0, 0.07, (n_emb, 64))).clip(-0.4, 0.4)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(range(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })

    n_evt = n["events"]
    span_us = 30 * 24 * 3600 * 1_000_000
    ts = np.datetime64("2024-01-01T00:00:00", "us") + (
        rng.random(n_evt) * span_us).astype("timedelta64[us]")
    ts.sort()
    out["events"] = pa.table({
        "event_id": pa.array(range(n_evt), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n["users"], n_evt), pa.int64()),
        "event_type": pa.array(rng.choice(EVENTS, n_evt), pa.string()),
        "value": pa.array(_money(rng, n_evt, 0.0, 560.21), pa.float64()),
        "props": pa.array([json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_evt)],
                          pa.string()),
    })

    n_li, n_ord, n_part = n["lineitem"], n["orders"], n["part"]
    n_cust, n_supp = n["customer"], n["supplier"]
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype("float64")),
        "l_extendedprice": pa.array(_money(rng, n_li, 900.0, 104100.0)),
        "l_discount": pa.array(np.round(rng.random(n_li) * 0.1, 2)),
        "l_tax": pa.array(np.round(rng.random(n_li) * 0.08, 2)),
        "l_returnflag": pa.array(rng.choice(["R", "A", "N"], n_li)),
        "l_linestatus": pa.array(rng.choice(["O", "F"], n_li)),
        "l_shipdate": _days(rng, n_li, 2500),
    })
    out["orders"] = pa.table({
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(["O", "F", "P"], n_ord)),
        "o_totalprice": pa.array(_money(rng, n_ord, 1000.0, 499000.0)),
        "o_orderdate": _days(rng, n_ord, 2400),
        "o_orderpriority": pa.array(rng.choice(PRIOS, n_ord)),
    })
    adj = rng.integers(0, len(ADJ), n_part)
    noun = rng.integers(0, len(NOUN), n_part)
    out["part"] = pa.table({
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": pa.array([f"{ADJ[a]} {NOUN[b]}" for a, b in zip(adj, noun)]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(0, 25, n_part)]),
        "p_type": pa.array(rng.choice(TYPES, n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array(_money(rng, n_part, 900.0, 99.9)),
    })
    out["customer"] = pa.table({
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(_money(rng, n_cust, -1000.0, 11000.0)),
        "c_mktsegment": pa.array(rng.choice(SEGS, n_cust)),
    })
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": pa.array(_money(rng, n_supp, -1000.0, 11000.0)),
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS),
    })
    return out


def write_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write every table under ``out_dir``; returns rows per table."""
    os.makedirs(out_dir, exist_ok=True)
    n = {name: max(int(rows * sf), 10) for name, rows in SF1_ROWS.items()}
    tables = _tables(np.random.default_rng(seed), n)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
