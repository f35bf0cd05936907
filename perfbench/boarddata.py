"""Seeded input tables for the query_board workload.

They have the schema and value ranges of the engine's star-schema test
data: region, nation, customer, supplier, part, orders, lineitem, events,
documents (with planted near-duplicates) and embeddings (unit vectors
around ten centres). `sf` scales the row counts like a TPC-H scale
factor. Each table is written as <dir>/<name>.parquet/part-0.parquet.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ["join", "hash", "row", "batch", "scan", "customer", "column", "filter",
         "small", "slow", "merge", "order", "vector", "line", "data", "table", "agg",
         "value", "key", "stream", "window", "spark", "a", "group", "part", "big",
         "sort", "query", "fast", "the"]


def _write(out, name, cols):
    path = os.path.join(out, name + ".parquet")
    os.makedirs(path, exist_ok=True)
    pq.write_table(pa.table(cols), os.path.join(path, "part-0.parquet"))


def _money(rng, lo, hi, n):
    return np.round(lo + rng.random(n) * (hi - lo), 2)


def _pick(rng, options, n):
    return pa.array(np.array(options, dtype=object)[rng.integers(0, len(options), n)],
                    pa.string())


def write(out, seed, sf):
    rng = np.random.default_rng(seed)
    n_cust, n_supp = max(50, int(150000 * sf)), max(10, int(10000 * sf))
    n_part, n_ord = max(50, int(200000 * sf)), max(200, int(1500000 * sf))
    n_ev, n_users = max(500, int(1000000 * sf)), max(20, int(15000 * sf))
    n_doc, n_vec = max(100, int(50000 * sf)), max(100, int(50000 * sf))
    i32, i64, f64, ts = pa.int32(), pa.int64(), pa.float64(), pa.timestamp("us")

    _write(out, "region", {
        "r_regionkey": pa.array(range(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust), f64),
        "c_mktsegment": _pick(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                                    "MACHINERY"], n_cust)})
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp), f64)})
    price = 900.0 + (np.arange(n_part) % 1000) / 10.0
    names = np.char.add(np.char.add(
        np.array(["small", "red", "large", "blue", "steel", "green"])[rng.integers(0, 6, n_part)],
        " "), np.array(["ring", "widget", "bolt", "gear", "panel"])[rng.integers(0, 5, n_part)])
    _write(out, "part", {
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": pa.array(names.tolist(), pa.string()),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": _pick(rng, ["ECONOMY", "STANDARD", "PROMO", "LARGE", "MEDIUM", "SMALL"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": pa.array(price, f64)})

    day0 = np.datetime64("1995-01-01T00:00:00", "us")
    day = np.timedelta64(86400000000, "us")
    order_day = rng.integers(0, 2404, n_ord)
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": pa.array(_money(rng, 1000, 500000, n_ord), f64),
        "o_orderdate": pa.array(day0 + order_day * day, ts),
        "o_orderpriority": _pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                       "5-LOW"], n_ord)})
    per_order = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord), per_order)
    n_line = len(okey)
    line_no = np.concatenate([np.arange(1, k + 1) for k in per_order])
    pkey = rng.integers(0, n_part, n_line)
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    _write(out, "lineitem", {
        "l_orderkey": pa.array(okey, i64),
        "l_partkey": pa.array(pkey, i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(line_no, i32),
        "l_quantity": pa.array(qty, f64),
        "l_extendedprice": pa.array(np.round(qty * price[pkey], 2), f64),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0, f64),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0, f64),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["O", "F"], n_line),
        "l_shipdate": pa.array(day0 + (order_day[okey] + rng.integers(1, 122, n_line)) * day, ts)})

    ev0 = np.datetime64("2024-01-01T00:00:00", "us")
    ev_us = np.sort(rng.integers(0, 30 * 86400000000, n_ev))
    _write(out, "events", {
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": pa.array(ev0 + ev_us.astype("timedelta64[us]"), ts),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), i64),
        "event_type": _pick(rng, ["click", "error", "purchase", "signup", "view"], n_ev),
        "value": pa.array(np.clip(np.round(np.exp(3.5 + 1.3 * rng.standard_normal(n_ev)), 2),
                                  0.01, 490.02), f64),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})

    texts = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.05:
            # a near-duplicate: a prefix of an earlier document, marked
            src = texts[rng.integers(0, i)].split(" ")
            keep = max(8, len(src) - int(rng.integers(0, 4)))
            texts.append(" ".join(src[:keep]) + (" dup" if rng.random() < 0.5 else " dup dup"))
        else:
            texts.append(" ".join(np.array(VOCAB)[rng.integers(0, len(VOCAB), 8 + rng.integers(0, 83))]))
    u = rng.random(n_doc)
    langs = np.where(u < 0.44, "en", np.array(["zh", "de", "fr", "es"])[
        np.minimum(((u - 0.44) / 0.14).astype(int), 3).clip(0)])
    _write(out, "documents", {
        "doc_id": pa.array(np.arange(n_doc), i64),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs.tolist(), pa.string()),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], i64)})

    dim = 64
    centres = rng.standard_normal((10, dim))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    label = rng.integers(0, 10, n_vec)
    vec = centres[label] + 0.25 * rng.standard_normal((n_vec, dim))
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    _write(out, "embeddings", {
        "vec_id": pa.array(np.arange(n_vec), i64),
        "embedding": pa.array(vec.astype(np.float32).tolist(), pa.list_(pa.float32())),
        "label": pa.array(label, i32)})
