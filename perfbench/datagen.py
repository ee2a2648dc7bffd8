"""Seeded generator for the analytics tables (region … embeddings).

The shapes follow the star schema + events/documents/embeddings layout the
query registry is written against (see FIXTURES.md §A): same column names,
parquet physical types and value domains, one row group per file. Row counts
come from `config.json` ("tables"), so the same seed always yields the same
bytes-for-bytes inputs.
"""
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
WORDS = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
DAY_US = 86_400_000_000
EPOCH_1995_US = 788_918_400_000_000  # 1995-01-01T00:00:00
EPOCH_2024_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"),
                   row_group_size=1 << 30, compression="snappy")


def generate(out, seed, sizes):
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    n_cust, n_supp, n_part = sizes["customer"], sizes["supplier"], sizes["part"]
    n_ord, n_line, n_ev = sizes["orders"], sizes["lineitem"], sizes["events"]
    n_doc, n_emb = sizes["documents"], sizes["embeddings"]
    ts = lambda us: pa.array(us, pa.timestamp("us"))

    write(out, "region", {"r_regionkey": pa.array(np.arange(5), pa.int32()),
                          "r_name": REGIONS})
    write(out, "nation", {
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())})
    write(out, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": list(rng.choice(SEGMENTS, n_cust))})
    write(out, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(rng, -999.99, 9999.99, n_supp)})
    write(out, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(ADJ, n_part),
                                              rng.choice(NOUN, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": list(rng.choice(PTYPES, n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)})
    order_day = rng.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    write(out, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": list(rng.choice(["F", "O", "P"], n_ord)),
        "o_totalprice": money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": ts(EPOCH_1995_US + order_day * DAY_US),
        "o_orderpriority": list(rng.choice(PRIORITIES, n_ord))})
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    write(out, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2),
        "l_discount": np.round(rng.integers(0, 11, n_line) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, n_line) * 0.01, 2),
        "l_returnflag": list(rng.choice(["A", "N", "R"], n_line)),
        "l_linestatus": list(rng.choice(["F", "O"], n_line)),
        "l_shipdate": ts(EPOCH_1995_US + rng.integers(1, 2500, n_line) * DAY_US)})
    # events: strictly increasing timestamps over 30 days, unique per row
    gaps = rng.integers(1, 2 * (30 * DAY_US // max(n_ev, 1)), n_ev)
    write(out, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": ts(EPOCH_2024_US + np.cumsum(gaps)),
        "user_id": rng.integers(0, max(n_ev // 66, 10), n_ev),
        "event_type": list(rng.choice(EVENT_TYPES, n_ev)),
        "value": money(rng, 0.01, 490.0, n_ev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    # documents: word soup; ~5% are near-duplicates of an earlier document
    texts = []
    for i in range(n_doc):
        if i > 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(8, 100)))))
    write(out, "documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": list(rng.choice(LANGS, n_doc, p=LANG_P)),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    vecs = rng.normal(size=(n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    write(out, "embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32())})


if __name__ == "__main__":
    out_dir, seed, sizes_json = sys.argv[1], int(sys.argv[2]), sys.argv[3]
    generate(out_dir, seed, json.loads(sizes_json))
