"""Deterministic input tables for the benchmark.

Writes the ten star-schema and corpus tables graft's registry queries read
(region, nation, customer, supplier, part, orders, lineitem, events,
documents, embeddings) as one single-row-group parquet file each. Row
counts, column names and types, and value distributions follow the tables
the queries were written against; `datacheck.py` compares the two, and
perfbench/README.md records the comparison. In short: uniform keys and
measures, 64 two-word part names, exponential event values, JSON `props`,
documents of 10-99 words drawn uniformly from a 30-word vocabulary, 5% of
them replaced by a copy of a random document with " dup" appended (exact
duplicates arise only where two copies share a source), and unit-norm
64-dimensional embeddings with random labels.

The tables depend only on the scale factor and the fixed DATA_SEED, never
on the benchmark's --seed, so the stored reference digests stay valid.

Usage: python3 gendata.py OUT_DIR SCALE [--tw]
"""

import os
import sys

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
VOCAB = ("spark window merge table column vector stream value data small join filter big "
         "group hash customer sort order slow line part fast row the agg key query a scan "
         "batch").split()
ADJ = "blue cold hot large new old red small".split()
NOUN = "anvil bolt gear gizmo plate ring rod widget".split()
DAY = np.timedelta64(1, "D")


def _write(df, out, name):
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False),
                   os.path.join(out, f"{name}.parquet"))


def _days(rng, n, first, last):
    span = int((np.datetime64(last) - np.datetime64(first)) / DAY)
    return (np.datetime64(first, "us") + rng.integers(0, span + 1, n) * DAY).astype("datetime64[us]")


def orders(rng, sf, n_cust):
    n = int(1_500_000 * sf)
    return pd.DataFrame({
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n),
        "o_totalprice": np.round(rng.uniform(1000, 500000, n), 2),
        "o_orderdate": _days(rng, n, "1995-01-01", "2001-08-01"),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n),
    })


def documents(rng, n):
    texts = [" ".join(rng.choice(VOCAB, rng.integers(10, 100))) for _ in range(n)]
    for i in rng.choice(n, n // 20, replace=False):
        texts[i] = texts[rng.integers(0, n)] + " dup"
    langs = rng.choice(["en", "de", "es", "fr", "zh"], n, p=[0.4, 0.15, 0.15, 0.15, 0.15])
    return pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": langs,
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def embeddings(rng, n, dim=64, k=10):
    v = rng.normal(0, 1, (n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pd.DataFrame({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": list(v),
        "label": rng.integers(0, k, n).astype(np.int32),
    })


def generate(out, sf):
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(DATA_SEED)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))

    _write(pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }), out, "region")
    _write(pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    }), out, "nation")
    _write(pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust),
    }), out, "customer")
    _write(pd.DataFrame({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    }), out, "supplier")
    _write(pd.DataFrame({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{rng.choice(ADJ)} {rng.choice(NOUN)}" for _ in range(n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1),
    }), out, "part")
    _write(orders(rng, sf, n_cust), out, "orders")
    _write(pd.DataFrame({
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105000, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _days(rng, n_li, "1995-01-02", "2001-11-04"),
    }), out, "lineitem")
    gaps = rng.exponential(30 * 86400e6 / n_ev, n_ev)
    _write(pd.DataFrame({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": (np.datetime64("2024-01-01T00:00:00", "us")
               + np.cumsum(gaps).astype("timedelta64[us]")).astype("datetime64[us]"),
        "user_id": rng.integers(0, max(1, int(15_000 * sf)), n_ev).astype(np.int64),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], n_ev),
        "value": np.round(np.maximum(0.01, rng.exponential(50.0, n_ev)), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    }), out, "events")
    _write(documents(rng, n_doc), out, "documents")
    _write(embeddings(rng, n_emb), out, "embeddings")


def generate_tw(out, sf):
    """Only the orders table, under the name table_writes reads."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(DATA_SEED + 1)
    _write(orders(rng, sf, int(150_000 * sf)), out, "tw_orders")


if __name__ == "__main__":
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    (generate_tw if "--tw" in sys.argv[3:] else generate)(sys.argv[1], float(sys.argv[2]))
