"""Seeded input generator for the graft benchmark.

Writes one parquet file per table with the schemas and value
distributions of the graft test tables (TPC-H-like star schema plus
`events`, `documents` and `embeddings`). Every table draws from its own
generator seeded by (seed, table), so the same seed always gives the
same bytes and a table's contents do not depend on which other tables a
workload asks for.

Usage: python3 gen.py <out_dir> <seed> '<json table->rows map>'
"""
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_IDS = {t: i for i, t in enumerate(
    ["region", "nation", "customer", "supplier", "part", "orders",
     "lineitem", "events", "documents", "embeddings"])}

EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"], dtype=object)
WORDS = np.array(
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window".split(), dtype=object)
LANGS = np.array(["en", "de", "es", "fr", "zh"], dtype=object)
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], dtype=object)
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], dtype=object)
P_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
P_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
P_TYPES = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], dtype=object)
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
EMBED_DIM = 64


def days(rng, start, n_days, n):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, n_days, n).astype("timedelta64[D]").astype("timedelta64[us]")


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def region(rng, n):
    return {"r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": pa.array(REGIONS)}


def nation(rng, n):
    k = np.arange(25, dtype=np.int32)
    return {"n_nationkey": pa.array(k),
            "n_name": pa.array([f"NATION_{i}" for i in k]),
            "n_regionkey": pa.array(k % 5)}


def customer(rng, n):
    return {"c_custkey": pa.array(np.arange(n, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n).astype(np.int32)),
            "c_acctbal": pa.array(money(rng, -999.99, 9999.99, n)),
            "c_mktsegment": pa.array(SEGMENTS[rng.integers(0, 5, n)])}


def supplier(rng, n):
    return {"s_suppkey": pa.array(np.arange(n, dtype=np.int64)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n).astype(np.int32)),
            "s_acctbal": pa.array(money(rng, -999.99, 9999.99, n))}


def part(rng, n):
    k = np.arange(n, dtype=np.int64)
    names = np.array([f"{a} {b}" for a in P_ADJ for b in P_NOUN], dtype=object)
    return {"p_partkey": pa.array(k),
            "p_name": pa.array(names[rng.integers(0, len(names), n)]),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n)]),
            "p_type": pa.array(P_TYPES[rng.integers(0, len(P_TYPES), n)]),
            "p_size": pa.array(rng.integers(1, 51, n).astype(np.int32)),
            "p_retailprice": pa.array(np.round(900 + (k % 1000) * 0.1, 1))}


def orders(rng, n, n_cust):
    return {"o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n).astype(np.int64)),
            "o_orderstatus": pa.array(np.array(["F", "O", "P"], dtype=object)[rng.integers(0, 3, n)]),
            "o_totalprice": pa.array(money(rng, 1000.0, 500000.0, n)),
            "o_orderdate": pa.array(days(rng, "1995-01-01", 2404, n)),
            "o_orderpriority": pa.array(PRIORITIES[rng.integers(0, 5, n)])}


def lineitem(rng, n, n_orders, n_part, n_supp):
    return {"l_orderkey": pa.array(rng.integers(0, n_orders, n).astype(np.int64)),
            "l_partkey": pa.array(rng.integers(0, n_part, n).astype(np.int64)),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n).astype(np.int64)),
            "l_linenumber": pa.array(rng.integers(1, 8, n).astype(np.int32)),
            "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
            "l_extendedprice": pa.array(money(rng, 900.0, 105000.0, n)),
            "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
            "l_returnflag": pa.array(np.array(["A", "N", "R"], dtype=object)[rng.integers(0, 3, n)]),
            "l_linestatus": pa.array(np.array(["F", "O"], dtype=object)[rng.integers(0, 2, n)]),
            "l_shipdate": pa.array(days(rng, "1995-01-02", 2499, n))}


def events(rng, n):
    month_us = 30 * 86400 * 1_000_000
    ts = np.datetime64("2024-01-01", "us") + np.sort(rng.integers(0, month_us, n)).astype("timedelta64[us]")
    props = np.array([f'{{"k": {k}}}' for k in range(100)], dtype=object)
    return {"event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts),
            "user_id": pa.array(rng.integers(0, max(1, n * 15 // 1000), n).astype(np.int64)),
            "event_type": pa.array(EVENT_TYPES[rng.integers(0, 5, n)]),
            "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
            "props": pa.array(props[rng.integers(0, 100, n)])}


def documents(rng, n):
    texts = [" ".join(WORDS[rng.integers(0, len(WORDS), rng.integers(10, 101))]) for _ in range(n)]
    # one document in twenty is a near-duplicate: another document's
    # text with one extra token, as in the test tables
    dups = rng.choice(n, n // 20, replace=False)
    dup_set = set(dups.tolist())
    originals = [i for i in range(n) if i not in dup_set]
    for d in dups:
        texts[d] = texts[originals[rng.integers(0, len(originals))]] + " dup"
    ids = np.arange(n, dtype=np.int64)
    return {"doc_id": pa.array(ids),
            "text": pa.array(texts),
            "lang": pa.array(LANGS[rng.choice(len(LANGS), n, p=LANG_P)]),
            "source": pa.array([f"src{i % 20}" for i in ids]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64))}


def embeddings(rng, n):
    v = rng.standard_normal((n, EMBED_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return {"vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.FixedSizeListArray.from_arrays(pa.array(v.ravel()), EMBED_DIM)
                .cast(pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n).astype(np.int32))}


def build(name, rows, sizes, rng):
    # foreign keys range over the referenced table's rows, or over the
    # TPC-H ratio of it when the workload does not generate that table
    if name == "orders":
        return orders(rng, rows, sizes.get("customer", max(1, rows // 10)))
    if name == "lineitem":
        return lineitem(rng, rows, sizes.get("orders", max(1, rows // 4)),
                        sizes.get("part", max(1, rows // 30)), sizes.get("supplier", max(1, rows // 600)))
    simple = {"region": region, "nation": nation, "customer": customer, "supplier": supplier,
              "part": part, "events": events, "documents": documents, "embeddings": embeddings}
    return simple[name](rng, rows)


def main():
    out_dir, seed, sizes = sys.argv[1], int(sys.argv[2]), json.loads(sys.argv[3])
    os.makedirs(out_dir, exist_ok=True)
    for name, rows in sizes.items():
        rng = np.random.default_rng([seed, TABLE_IDS[name]])
        table = pa.table(build(name, rows, sizes, rng))
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


if __name__ == "__main__":
    main()
