#!/usr/bin/env python3
"""Seeded synthetic inputs for the benchmark.

Two directories are written under the output root:

* ``tables/`` -- the ten tables ``SparkEntry.queries`` reads (a TPC-H-like
  star schema plus events, documents and embeddings), with the same column
  names, Arrow types and value domains as the project's test tables, scaled
  by ``--query-sf``.
* ``etl/`` -- the ETL workloads' source Parquet files at ``--etl-sf``: node
  tables carrying a seed-chosen 5% of duplicate-key rows and 1% of null-key
  rows, primary-key edge files, and the name-addressed / legacy-id edge
  files and id mapping that ``etl_remap`` rewrites.

The same seed always gives byte-identical files.

    python3 gen_data.py --seed 7 --query-sf 0.01 --etl-sf 0.02 --out DIR
"""
import argparse
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["small", "red", "blue", "hot", "old", "large", "cold", "new"]
NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "rod"]
PTYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
STATUS = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
WORDS = ("join hash row batch scan customer column filter small slow merge order "
         "vector line data table agg value key stream window spark a group part "
         "big sort query fast the").split()
LANGS = ["en", "fr", "es", "zh", "de"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
DAY = 86_400_000_000  # microseconds
EPOCH_1995 = 788_918_400_000_000
EPOCH_2024 = 1_704_067_200_000_000


def ts(us):
    return pa.array(us.astype("int64"), pa.int64()).cast(pa.timestamp("us"))


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def write(path, cols):
    pq.write_table(pa.table(cols), path, compression="snappy")


def query_tables(rng, sf, out):
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line = int(1_500_000 * sf), int(6_000_000 * sf)
    n_ev = int(1_000_000 * sf)
    n_docs, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    n_users = max(1, int(15_000 * sf))

    write(f"{out}/region.parquet", {
        "r_regionkey": pa.array(np.arange(5, dtype="int32")),
        "r_name": REGIONS})
    write(f"{out}/nation.parquet", {
        "n_nationkey": pa.array(np.arange(25, dtype="int32")),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype="int32") % 5)})
    write(f"{out}/customer.parquet", {
        "c_custkey": pa.array(np.arange(n_cust, dtype="int64")),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype="int32")),
        "c_acctbal": money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]})
    write(f"{out}/supplier.parquet", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype="int64")),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype="int32")),
        "s_acctbal": money(rng, -999.99, 9999.99, n_supp)})
    adj, noun = rng.integers(0, 8, n_part), rng.integers(0, 8, n_part)
    write(f"{out}/part.parquet", {
        "p_partkey": pa.array(np.arange(n_part, dtype="int64")),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": [PTYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part, dtype="int32")),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1)})
    write(f"{out}/orders.parquet", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype="int64")),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype="int64")),
        "o_orderstatus": [STATUS[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": ts(EPOCH_1995 + rng.integers(0, 2405, n_ord) * DAY),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)]})
    qty = rng.integers(1, 51, n_line).astype("float64")
    write(f"{out}/lineitem.parquet", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line, dtype="int64")),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line, dtype="int64")),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line, dtype="int64")),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line, dtype="int32")),
        "l_quantity": qty,
        "l_extendedprice": money(rng, 900.0, 105_000.0, n_line),
        "l_discount": np.round(rng.integers(0, 11, n_line) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, n_line) * 0.01, 2),
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_line)],
        "l_linestatus": [("O", "F")[i] for i in rng.integers(0, 2, n_line)],
        "l_shipdate": ts(EPOCH_1995 + rng.integers(1, 2500, n_line) * DAY)})
    gaps = rng.exponential(30 * DAY / n_ev, n_ev).astype("int64")
    write(f"{out}/events.parquet", {
        "event_id": pa.array(np.arange(n_ev, dtype="int64")),
        "ts": ts(EPOCH_2024 + np.cumsum(gaps)),
        "user_id": pa.array(rng.integers(0, n_users, n_ev, dtype="int64")),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)],
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_ev), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = []
    for i in range(n_docs):
        if i > 20 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.integers(0, len(WORDS), int(rng.integers(10, 100)))
            texts.append(" ".join(WORDS[w] for w in words))
    write(f"{out}/documents.parquet", {
        "doc_id": pa.array(np.arange(n_docs, dtype="int64")),
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(5, n_docs, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype="int64"))})
    vec = rng.standard_normal((n_emb, 64)).astype("float32")
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    write(f"{out}/embeddings.parquet", {
        "vec_id": pa.array(np.arange(n_emb, dtype="int64")),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb, dtype="int32"))})


def with_dirty_keys(rng, cols, key):
    """Append 5% duplicate-key rows (copies of seed-chosen rows) and 1%
    null-key rows, then shuffle: staging must dedup and drop them."""
    t = pa.table(cols)
    n = t.num_rows
    dup = t.take(pa.array(rng.integers(0, n, max(1, n // 20))))
    null = t.take(pa.array(rng.integers(0, n, max(1, n // 100))))
    null = null.set_column(null.schema.get_field_index(key), key,
                           pa.nulls(null.num_rows, t.schema.field(key).type))
    merged = pa.concat_tables([t, dup, null])
    return merged.take(pa.array(rng.permutation(merged.num_rows)))


def etl_sources(rng, sf, out):
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line = int(1_500_000 * sf), int(6_000_000 * sf)
    cust = {"c_custkey": pa.array(np.arange(n_cust, dtype="int64")),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype="int32")),
            "c_acctbal": money(rng, -999.99, 9999.99, n_cust)}
    supp = {"s_suppkey": pa.array(np.arange(n_supp, dtype="int64")),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype="int32"))}
    adj, noun = rng.integers(0, 8, n_part), rng.integers(0, 8, n_part)
    part = {"p_partkey": pa.array(np.arange(n_part, dtype="int64")),
            "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in zip(adj, noun)],
            "p_size": pa.array(rng.integers(1, 51, n_part, dtype="int32"))}
    o_cust = rng.integers(0, n_cust, n_ord, dtype="int64")
    orders = {"o_orderkey": pa.array(np.arange(n_ord, dtype="int64")),
              "o_custkey": pa.array(o_cust),
              "o_totalprice": money(rng, 1000.0, 500_000.0, n_ord),
              "o_orderdate": ts(EPOCH_1995 + rng.integers(0, 2405, n_ord) * DAY)}
    nation = {"n_nationkey": pa.array(np.arange(25, dtype="int64")),
              "n_name": [f"NATION_{i}" for i in range(25)]}
    for name, cols, key in [("customer", cust, "c_custkey"), ("supplier", supp, "s_suppkey"),
                            ("part", part, "p_partkey"), ("orders", orders, "o_orderkey"),
                            ("nation", nation, "n_nationkey")]:
        pq.write_table(with_dirty_keys(rng, cols, key), f"{out}/{name}.parquet",
                       compression="snappy")

    l_ord = rng.integers(0, n_ord, n_line, dtype="int64")
    l_part = rng.integers(0, n_part, n_line, dtype="int64")
    l_supp = rng.integers(0, n_supp, n_line, dtype="int64")
    qty = rng.integers(1, 51, n_line).astype("float64")
    order_key = np.arange(n_ord, dtype="int64")
    legacy = rng.permutation(n_ord).astype("int64") * 7 + 1_000_003  # old system's ids
    write(f"{out}/placed_by.parquet", {"start": pa.array(order_key), "end": pa.array(o_cust)})
    write(f"{out}/contains.parquet", {"start": pa.array(l_ord), "end": pa.array(l_part),
                                      "quantity": qty})
    write(f"{out}/supplied_by.parquet", {"start": pa.array(l_part), "end": pa.array(l_supp)})
    write(f"{out}/placed_by_name.parquet", {
        "start": pa.array(order_key),
        "end": [f"Customer#{i:09d}" for i in o_cust]})
    write(f"{out}/contains_legacy.parquet", {"start": pa.array(legacy[l_ord]),
                                             "end": pa.array(l_part), "quantity": qty})
    write(f"{out}/supplied_by_name.parquet", {
        "start": pa.array(l_part),
        "end": [f"Supplier#{i:09d}" for i in l_supp]})
    write(f"{out}/order_id_map.parquet", {"old_value": pa.array(legacy),
                                          "new_value": pa.array(order_key)})


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--query-sf", type=float, required=True)
    ap.add_argument("--etl-sf", type=float, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    for sub in ("tables", "etl"):
        os.makedirs(f"{a.out}/{sub}", exist_ok=True)
    query_tables(np.random.default_rng([a.seed, 1]), a.query_sf, f"{a.out}/tables")
    etl_sources(np.random.default_rng([a.seed, 2]), a.etl_sf, f"{a.out}/etl")


if __name__ == "__main__":
    main()
