"""Seeded generator for the `analytics` workload's tables.

Writes the ten tables the headline queries read (same names, column names
and types as the TPC-H-ish test tables of TESTDATA.md) as one parquet file
each. The distributions are fitted to the sf0.1 test tables, column by
column (see ``PROFILE``, checked in ``tests/test_datagen.py``):

* documents: 10-99 words drawn uniformly from a 30-word vocabulary; 5% of
  the documents are a copy of a random document with `` dup`` appended,
  which also yields a few exact duplicates (two copies of one document);
  sources round-robin over 20 names;
* embeddings: 64-d unit vectors (normalised Gaussian) in 10 labels;
* lineitem prices, discounts and taxes uniform and rounded to cents;
  event values exponential with mean 50; a month of events and
  orders/lineitems over 1995-2001.

Everything is a function of (seed, sf).
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = np.array(["en", "de", "es", "fr", "zh"])
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
PTYPES = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

# ``profile()`` of the sf0.1 test tables of TESTDATA.md (seed 42), as
# measured; the generator's output at sf 0.1 is tested against it
PROFILE = {
    "rows": {"region": 5, "nation": 25, "customer": 15000, "supplier": 1000,
             "part": 20000, "orders": 150000, "lineitem": 600000, "events": 100000,
             "documents": 5000, "embeddings": 2000},
    "doc_words_mean": 54.14,
    "doc_vocabulary": 31,
    "doc_near_dups": 250,          # texts ending in " dup"
    "doc_exact_dups": 8,           # texts equal to an earlier one
    "doc_sources": 20,
    "doc_per_source_max": 250,
    "part_names": 64,
    "embedding_norm_mean": 1.0,
    "embedding_sd": 0.125,
    "extendedprice_mean": 52950.0,
    "extendedprice_sd": 30050.0,
    "discount_sd": 0.02918,
    "tax_sd": 0.02345,
    "event_value_mean": 49.87,
}


def _ts(rng: np.random.Generator, n: int, start: str, end: str, unit: str) -> np.ndarray:
    lo = np.datetime64(start, unit).astype("int64")
    hi = np.datetime64(end, unit).astype("int64")
    return rng.integers(lo, hi, n).astype(f"datetime64[{unit}]").astype("datetime64[us]")


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _documents(rng: np.random.Generator, n: int) -> dict:
    lens = rng.integers(10, 100, n)
    words = np.array(VOCAB)[rng.integers(0, len(VOCAB), int(lens.sum()))]
    texts, pos = [], 0
    for k in lens:
        texts.append(" ".join(words[pos:pos + k]))
        pos += k
    # 5% near-duplicates: a random document (possibly itself a copy) + " dup"
    for i in rng.choice(n, size=n // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    return {
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }


def generate(out_dir: str, seed: int, sf: float) -> None:
    """Write all ten tables for scale factor ``sf`` into ``out_dir``."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_ord, n_part = int(150_000 * sf), int(1_500_000 * sf), int(200_000 * sf)
    n_supp, n_line = int(10_000 * sf), int(6_000_000 * sf)
    n_events, n_docs, n_emb = int(1_000_000 * sf), int(50_000 * sf), int(20_000 * sf)

    _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": pa.array(REGIONS, pa.string()),
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust), pa.string()),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], pa.string()),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)),
    })
    adj = np.array(["blue", "cold", "hot", "large", "new", "old", "red", "small"])
    noun = np.array(["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"])
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": pa.array(
            np.char.add(np.char.add(rng.choice(adj, n_part), " "), rng.choice(noun, n_part)),
            pa.string(),
        ),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)], pa.string()),
        "p_type": pa.array(rng.choice(PTYPES, n_part), pa.string()),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2)),
    })
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(np.array(["F", "O", "P"]), n_ord), pa.string()),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500_000, n_ord), 2)),
        "o_orderdate": pa.array(_ts(rng, n_ord, "1995-01-01", "2001-08-02", "D")),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord), pa.string()),
    })
    qty = rng.integers(1, 51, n_line).astype("float64")
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(rng.uniform(900, 105_000, n_line), 2)),
        "l_discount": pa.array(np.round(rng.uniform(0, 0.1, n_line), 2)),
        "l_tax": pa.array(np.round(rng.uniform(0, 0.08, n_line), 2)),
        "l_returnflag": pa.array(rng.choice(np.array(["A", "N", "R"]), n_line), pa.string()),
        "l_linestatus": pa.array(rng.choice(np.array(["F", "O"]), n_line), pa.string()),
        "l_shipdate": pa.array(_ts(rng, n_line, "1995-01-02", "2001-11-05", "D")),
    })
    ts = np.sort(_ts(rng, n_events, "2024-01-01", "2024-01-31", "us"))
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": pa.array(ts),
        "user_id": pa.array(rng.integers(0, max(1, int(15_000 * sf)), n_events), pa.int64()),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n_events), pa.string()),
        "value": pa.array(np.round(rng.exponential(50.0, n_events), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)], pa.string()),
    })
    _write(out_dir, "documents", _documents(rng, n_docs))
    emb = rng.normal(0.0, 1.0, (n_emb, 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype("float32")
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
    })


def profile(data_dir: str) -> dict:
    """The figures of ``PROFILE`` for the tables in ``data_dir``."""
    from collections import Counter

    def col(table, name):
        return pq.read_table(os.path.join(data_dir, f"{table}.parquet"), columns=[name]).column(0)

    rows = {t: pq.ParquetFile(os.path.join(data_dir, f"{t}.parquet")).metadata.num_rows
            for t in PROFILE["rows"]}
    texts = col("documents", "text").to_pylist()
    sources = Counter(col("documents", "source").to_pylist())
    emb = np.array(col("embeddings", "embedding").to_pylist(), dtype="float64")
    price = col("lineitem", "l_extendedprice").to_numpy()
    return {
        "rows": rows,
        "doc_words_mean": float(np.mean([len(t.split()) for t in texts])),
        "doc_vocabulary": len({w for t in texts for w in t.split()}),
        "doc_near_dups": sum(t.endswith(" dup") for t in texts),
        "doc_exact_dups": len(texts) - len(set(texts)),
        "doc_sources": len(sources),
        "doc_per_source_max": max(sources.values()),
        "part_names": len(set(col("part", "p_name").to_pylist())),
        "embedding_norm_mean": float(np.linalg.norm(emb, axis=1).mean()),
        "embedding_sd": float(emb.std()),
        "extendedprice_mean": float(price.mean()),
        "extendedprice_sd": float(price.std()),
        "discount_sd": float(col("lineitem", "l_discount").to_numpy().std()),
        "tax_sd": float(col("lineitem", "l_tax").to_numpy().std()),
        "event_value_mean": float(col("events", "value").to_numpy().mean()),
    }


if __name__ == "__main__":
    # python3 perfbench/datagen.py DIR: print the profile of the tables in DIR
    print(json.dumps(profile(sys.argv[1]), indent=1))
