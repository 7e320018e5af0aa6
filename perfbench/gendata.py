"""Deterministic synthetic inputs for the benchmark.

Writes the ten tables the query inventory reads (`region nation customer
supplier part orders lineitem events documents embeddings`, one parquet
file each) with the column names, parquet types and value domains of the
project's TPC-H-ish test layout: the same star schema, the same
categorical domains, documents built from a 30-word vocabulary with ~5%
near-duplicates (a copy of an earlier document plus the token `dup`),
and 64-dim unit-norm float embeddings with ten labels.

Row counts scale with `sf` exactly like that layout (orders 1.5M x sf,
lineitem 6M x sf with uniformly drawn order keys, ...). Every table
comes from its own numpy generator seeded by (seed, table), so the
output is a pure function of (sf, seed).

`batches` writes dbt_run's incremental inputs for one workload seed:
for each k in 1..n, the next week of orders (1% of the order count) plus
~1% re-stated existing orders, the next day of events, and the customer
table with ~1% of the rows updated (account balance and segment), all
with the base tables' parquet types.

Usage: python3 perfbench/gendata.py <out_dir> <sf> [seed]
       python3 perfbench/gendata.py batches <data_dir> <out_dir> <seed> <n>
"""
import os
import sys
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a the fast slow big small key order sort table scan merge part "
         "window hash join batch stream spark group query row data filter "
         "customer line value agg column vector").split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["small", "large", "red", "blue", "green", "hot", "cold", "shiny"]
PART_NOUN = ["widget", "gizmo", "bolt", "gear", "ring", "anvil", "spring",
             "valve"]
PART_TYPES = ["ECONOMY", "STANDARD", "SMALL", "MEDIUM", "LARGE", "PROMO"]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
LANGS = ["en", "de", "fr", "es", "zh"]

TS = pa.timestamp("us")


def rng_for(seed, table):
    return np.random.default_rng([seed, zlib.crc32(table.encode())])


def days(start, n, rng, size):
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, n, size)).astype("datetime64[us]")


def money(rng, lo, hi, size):
    return np.round(rng.uniform(lo, hi, size), 2)


def tables(sf, seed):
    n_cust = max(1, int(150_000 * sf))
    n_supp = max(1, int(10_000 * sf))
    n_part = max(1, int(200_000 * sf))
    n_ord = max(1, int(1_500_000 * sf))
    n_line = max(1, int(6_000_000 * sf))
    n_evt = max(1, int(1_000_000 * sf))
    n_users = max(1, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_vecs = max(500, int(20_000 * sf))

    yield "region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    yield "nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    r = rng_for(seed, "customer")
    yield "customer", pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(r, -999.99, 9999.99, n_cust),
        "c_mktsegment": [SEGMENTS[i] for i in r.integers(0, 5, n_cust)]})

    r = rng_for(seed, "supplier")
    yield "supplier", pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(r, -999.99, 9999.99, n_supp)})

    r = rng_for(seed, "part")
    yield "part", pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(r.integers(0, 8, n_part), r.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, n_part)],
        "p_type": [PART_TYPES[t] for t in r.integers(0, 6, n_part)],
        "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": 900.0 + r.integers(0, 1000, n_part) / 10.0})

    r = rng_for(seed, "orders")
    yield "orders", pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(r.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[s] for s in r.integers(0, 3, n_ord)],
        "o_totalprice": money(r, 1000.0, 500000.0, n_ord),
        "o_orderdate": pa.array(days("1995-01-01", 2400, r, n_ord), TS),
        "o_orderpriority": [PRIORITIES[p] for p in r.integers(0, 5, n_ord)]})

    r = rng_for(seed, "lineitem")
    qty = r.integers(1, 51, n_line).astype(np.float64)
    yield "lineitem", pa.table({
        "l_orderkey": pa.array(r.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(r.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, n_line), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * r.uniform(900.0, 2100.0, n_line), 2),
        "l_discount": r.integers(0, 11, n_line) / 100.0,
        "l_tax": r.integers(0, 9, n_line) / 100.0,
        "l_returnflag": [("A", "N", "R")[f] for f in r.integers(0, 3, n_line)],
        "l_linestatus": [("F", "O")[f] for f in r.integers(0, 2, n_line)],
        "l_shipdate": pa.array(days("1995-01-02", 2500, r, n_line), TS)})

    r = rng_for(seed, "events")
    month_us = 30 * 86400 * 1_000_000
    ts = np.sort(r.integers(0, month_us, n_evt)) + \
        np.datetime64("2024-01-01", "us").astype(np.int64)
    yield "events", pa.table({
        "event_id": pa.array(np.arange(n_evt), pa.int64()),
        "ts": pa.array(ts.astype("datetime64[us]"), TS),
        "user_id": pa.array(r.integers(0, n_users, n_evt), pa.int64()),
        "event_type": [EVENT_TYPES[e] for e in r.integers(0, 5, n_evt)],
        "value": np.round(r.uniform(0.01, 490.0, n_evt), 2),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_evt)]})

    r = rng_for(seed, "documents")
    texts = []
    for i in range(n_docs):
        if i > 0 and r.random() < 0.05:
            texts.append(texts[int(r.integers(0, i))] + " dup")
        else:
            n = int(r.integers(10, 100))
            texts.append(" ".join(VOCAB[w] for w in r.integers(0, len(VOCAB), n)))
    yield "documents", pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": [LANGS[l] for l in r.integers(0, 5, n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})

    r = rng_for(seed, "embeddings")
    labels = r.integers(0, 10, n_vecs)
    centers = r.normal(0.0, 1.0, (10, 64))
    vecs = centers[labels] + r.normal(0.0, 0.8, (n_vecs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    yield "embeddings", pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})


def batches(data_dir, out, seed, n):
    base = {t: pq.read_table(os.path.join(data_dir, f"{t}.parquet"))
            for t in ("customer", "orders", "events")}
    os.makedirs(out, exist_ok=True)
    orders, events = base["orders"], base["events"]
    n_ord, n_evt = orders.num_rows, events.num_rows
    max_key = max(orders.column("o_orderkey").to_pylist())
    max_date = np.datetime64(max(orders.column("o_orderdate").to_pylist()), "us")
    max_evt = max(events.column("event_id").to_pylist())
    max_ts = np.datetime64(max(events.column("ts").to_pylist()), "us")
    n_users = max(events.column("user_id").to_pylist()) + 1
    cust = base["customer"]
    for k in range(1, n + 1):
        r = rng_for(seed, f"batch{k}")
        # ~1% updated customers (check-strategy snapshot changes)
        upd = r.random(cust.num_rows) < 0.01
        bal = np.array(cust.column("c_acctbal").to_pylist())
        seg = cust.column("c_mktsegment").to_pylist()
        bal = np.where(upd, np.round(bal + r.uniform(-500, 500, len(bal)), 2), bal)
        new_seg = r.integers(0, 5, len(seg))
        seg = [SEGMENTS[new_seg[i]] if upd[i] else s for i, s in enumerate(seg)]
        cust = cust.set_column(cust.schema.get_field_index("c_acctbal"),
                               "c_acctbal", pa.array(bal, pa.float64()))
        cust = cust.set_column(cust.schema.get_field_index("c_mktsegment"),
                               "c_mktsegment", pa.array(seg, pa.string()))
        pq.write_table(cust, os.path.join(out, f"customer_v{k}.parquet"))
        # the next week of new orders, plus ~1% re-stated existing ones
        n_new = max(1, n_ord // 100)
        first = max_key + 1 + (k - 1) * n_new
        new = pa.table({
            "o_orderkey": pa.array(np.arange(first, first + n_new), pa.int64()),
            "o_custkey": pa.array(r.integers(0, cust.num_rows, n_new), pa.int64()),
            "o_orderstatus": ["O"] * n_new,
            "o_totalprice": money(r, 1000.0, 500000.0, n_new),
            "o_orderdate": pa.array(
                max_date + np.timedelta64(7 * (k - 1) + 1, "D") +
                r.integers(0, 7, n_new).astype("timedelta64[D]"), TS),
            "o_orderpriority": [PRIORITIES[p] for p in r.integers(0, 5, n_new)]},
            schema=orders.schema)
        restated = orders.filter(pa.array(r.random(n_ord) < 0.01))
        restated = restated.set_column(
            restated.schema.get_field_index("o_orderstatus"), "o_orderstatus",
            pa.array(["F"] * restated.num_rows, pa.string()))
        restated = restated.set_column(
            restated.schema.get_field_index("o_totalprice"), "o_totalprice",
            pa.array(np.round(np.array(
                restated.column("o_totalprice").to_pylist()) + 1.0, 2)))
        pq.write_table(pa.concat_tables([new, restated]),
                       os.path.join(out, f"orders_b{k}.parquet"))
        # the next day of events
        n_ev = max(1, n_evt // 30)
        first = max_evt + 1 + (k - 1) * n_ev
        day_us = 86400 * 1_000_000
        ts = np.sort(r.integers(0, day_us, n_ev)).astype("timedelta64[us]") + \
            max_ts + np.timedelta64((k - 1) * day_us + 1, "us")
        pq.write_table(pa.table({
            "event_id": pa.array(np.arange(first, first + n_ev), pa.int64()),
            "ts": pa.array(ts, TS),
            "user_id": pa.array(r.integers(0, n_users, n_ev), pa.int64()),
            "event_type": [EVENT_TYPES[e] for e in r.integers(0, 5, n_ev)],
            "value": np.round(r.uniform(0.01, 490.0, n_ev), 2),
            "props": [f'{{"k": {v}}}' for v in r.integers(0, 100, n_ev)]},
            schema=events.schema), os.path.join(out, f"events_b{k}.parquet"))


def main(argv):
    if len(argv) > 1 and argv[1] == "batches":
        if len(argv) != 6:
            sys.exit("usage: gendata.py batches <data_dir> <out_dir> <seed> <n>")
        batches(argv[2], argv[3], int(argv[4]), int(argv[5]))
        return
    if len(argv) < 3:
        sys.exit("usage: gendata.py <out_dir> <sf> [seed]")
    out, sf = argv[1], float(argv[2])
    seed = int(argv[3]) if len(argv) > 3 else 42
    os.makedirs(out, exist_ok=True)
    for name, t in tables(sf, seed):
        pq.write_table(t, os.path.join(out, f"{name}.parquet"))


if __name__ == "__main__":
    main(sys.argv)
