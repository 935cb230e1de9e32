"""Deterministic fixture tables for the benchmark.

Writes the ten parquet tables the engine reads (TPC-H-like star schema plus
the `events`, `documents` and `embeddings` tables; schemas in FIXTURES.md)
at a given scale factor. Column types, value domains and row counts per
scale factor follow the fixture tables described in FIXTURES.md; the values
themselves come from numpy's legacy `RandomState`, whose stream is frozen,
so one scale factor always gives byte-identical tables.

    python3 perfbench/fixtures.py <out_dir> <scale_factor>
"""

import datetime
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FIXTURE_SEED = 42

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["small", "large", "red", "blue", "hot", "cold", "old", "new"]
PART_NOUN = ["ring", "widget", "bolt", "plate", "gear", "anvil", "spring", "valve"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
VOCAB = ("a the key agg row scan slow fast table value part hash merge batch "
         "spark line sort window order data column join small customer query "
         "big filter group vector stream").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]


def _days(rng, n, start, end):
    span = (end - start).days
    base = np.datetime64(start, "us")
    return base + rng.randint(0, span + 1, n).astype("timedelta64[D]").astype("timedelta64[us]")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(sf):
    rng = np.random.RandomState(FIXTURE_SEED)
    n_supp = max(1, int(10000 * sf))
    n_cust = max(1, int(150000 * sf))
    n_part = max(1, int(200000 * sf))
    n_ord = max(1, int(1500000 * sf))
    n_line = max(1, int(6000000 * sf))
    n_evt = max(1, int(1000000 * sf))
    n_users = max(1, int(15000 * sf))
    n_docs = max(1, int(50000 * sf))
    n_vecs = max(500, int(20000 * sf))
    i32, i64 = pa.int32(), pa.int64()

    yield "region", pa.table({
        "r_regionkey": pa.array(np.arange(5), i32),
        "r_name": REGIONS})
    yield "nation", pa.table({
        "n_nationkey": pa.array(np.arange(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, i32)})
    yield "supplier", pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.randint(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99)})
    yield "customer", pa.table({
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.randint(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": np.array(SEGMENTS)[rng.randint(0, 5, n_cust)]})
    keys = np.arange(n_part)
    yield "part", pa.table({
        "p_partkey": pa.array(keys, i64),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.randint(0, 8, n_part), rng.randint(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.randint(1, 26, n_part)],
        "p_type": np.array(PART_TYPES)[rng.randint(0, 6, n_part)],
        "p_size": pa.array(rng.randint(1, 51, n_part), i32),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1)})
    yield "orders", pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.randint(0, n_cust, n_ord), i64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.randint(0, 3, n_ord)],
        "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
        "o_orderdate": _days(rng, n_ord, datetime.date(1995, 1, 1), datetime.date(2001, 8, 1)),
        "o_orderpriority": np.array(PRIORITIES)[rng.randint(0, 5, n_ord)]})
    yield "lineitem", pa.table({
        "l_orderkey": pa.array(rng.randint(0, n_ord, n_line), i64),
        "l_partkey": pa.array(rng.randint(0, n_part, n_line), i64),
        "l_suppkey": pa.array(rng.randint(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(rng.randint(1, 8, n_line), i32),
        "l_quantity": rng.randint(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, n_line, 900.0, 105000.0),
        "l_discount": rng.randint(0, 11, n_line) / 100.0,
        "l_tax": rng.randint(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.randint(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.randint(0, 2, n_line)],
        "l_shipdate": _days(rng, n_line, datetime.date(1995, 1, 2), datetime.date(2001, 11, 4))})

    # events: strictly increasing timestamps over 30 days, µs precision
    gaps = rng.exponential(30 * 86400e6 / n_evt, n_evt).astype(np.int64) + 1
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(gaps).astype("timedelta64[us]")
    yield "events", pa.table({
        "event_id": pa.array(np.arange(n_evt), i64),
        "ts": ts,
        "user_id": pa.array(rng.randint(0, n_users, n_evt), i64),
        "event_type": np.array(EVENT_TYPES)[rng.randint(0, 5, n_evt)],
        "value": np.round(rng.exponential(50.0, n_evt), 2),
        "props": [f'{{"k": {k}}}' for k in rng.randint(0, 100, n_evt)]})

    # documents: random text over a small vocabulary, with near duplicates
    # (an earlier document plus one or two " dup" tokens) and exact copies
    texts = []
    for i in range(n_docs):
        r = rng.random_sample()
        if i > 0 and r < 0.05:
            texts.append(texts[rng.randint(0, i)] + " dup" * (1 + int(rng.random_sample() < 0.1)))
        elif i > 0 and r < 0.052:
            texts.append(texts[rng.randint(0, i)])
        else:
            words = np.array(VOCAB)[rng.randint(0, len(VOCAB), rng.randint(10, 101))]
            texts.append(" ".join(words))
    yield "documents", pa.table({
        "doc_id": pa.array(np.arange(n_docs), i64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_docs, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], i64)})

    # embeddings: unit-norm 64-d vectors, labels independent of direction
    vecs = rng.standard_normal((n_vecs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    yield "embeddings", pa.table({
        "vec_id": pa.array(np.arange(n_vecs), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.randint(0, 10, n_vecs), i32)})


def write(out_dir, sf):
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(sf):
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


if __name__ == "__main__":
    write(sys.argv[1], float(sys.argv[2]))
