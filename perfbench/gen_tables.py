#!/usr/bin/env python3
"""A replica of graft's sf0.1 fixture tables for the query workloads.

The fixture itself is not part of the repository, and the benchmark
reads only its own checkout, so it makes the tables: the fixture's
schemas (same column names and parquet types), its row counts (600k
lineitem, 150k orders, 100k events, 5,000 documents over a 30-word
vocabulary with exact and " dup"-suffixed near-duplicates, 2,000 unit
64-d embeddings) and its value domains and distributions, one row group
per table. The rows differ. The tables are fixed (numpy seed 42): the
workload seed permutes op order, not the data.

Usage: python3 perfbench/gen_tables.py OUTDIR
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_CUST, N_SUPP, N_PART = 15_000, 1_000, 20_000
N_ORD, N_LINE, N_EVT = 150_000, 600_000, 100_000
N_DOC, N_EMB = 5_000, 2_000
N_EXACT_DUP, N_NEAR_DUP = 8, 250
DAY0 = np.datetime64("1995-01-01", "D")


def days(offsets):
    return pa.array((DAY0 + offsets.astype("timedelta64[D]")).astype("datetime64[us]"),
                    pa.timestamp("us"))


def int32(xs):
    return pa.array(xs, pa.int32())


def int64(xs):
    return pa.array(xs, pa.int64())


def generate(out):
    rng = np.random.RandomState(42)
    os.makedirs(out, exist_ok=True)

    def write(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))

    def pick(values, n, p=None):
        return np.array(values)[rng.choice(len(values), n, p=p)]

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    write("region", {
        "r_regionkey": int32(range(5)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    write("nation", {
        "n_nationkey": int32(range(25)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": int32([i % 5 for i in range(25)])})
    write("customer", {
        "c_custkey": int64(np.arange(N_CUST)),
        "c_name": [f"Customer#{i:09d}" for i in range(N_CUST)],
        "c_nationkey": int32(rng.randint(0, 25, N_CUST)),
        "c_acctbal": money(-1000, 10000, N_CUST),
        "c_mktsegment": pick(["MACHINERY", "BUILDING", "FURNITURE", "AUTOMOBILE",
                              "HOUSEHOLD"], N_CUST)})
    write("supplier", {
        "s_suppkey": int64(np.arange(N_SUPP)),
        "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPP)],
        "s_nationkey": int32(rng.randint(0, 25, N_SUPP)),
        "s_acctbal": money(-1000, 10000, N_SUPP)})
    adjectives = pick(["blue", "old", "large", "hot", "cold", "red", "small", "new"], N_PART)
    nouns = pick(["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"], N_PART)
    write("part", {
        "p_partkey": int64(np.arange(N_PART)),
        "p_name": [f"{a} {n}" for a, n in zip(adjectives, nouns)],
        "p_brand": [f"Brand#{b}" for b in rng.randint(1, 26, N_PART)],
        "p_type": pick(["LARGE", "ECONOMY", "SMALL", "STANDARD", "PROMO", "MEDIUM"], N_PART),
        "p_size": int32(rng.randint(1, 51, N_PART)),
        "p_retailprice": np.round(900 + (np.arange(N_PART) % 1000) / 10.0, 1)})
    write("orders", {
        "o_orderkey": int64(np.arange(N_ORD)),
        "o_custkey": int64(rng.randint(0, N_CUST, N_ORD)),
        "o_orderstatus": pick(["O", "F", "P"], N_ORD),
        "o_totalprice": money(1000, 500000, N_ORD),
        "o_orderdate": days(rng.randint(0, 2405, N_ORD)),
        "o_orderpriority": pick(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                 "5-LOW"], N_ORD)})
    # line items pick their order at random, as in the fixture: an
    # order has 0 to ~17 lines, and ship dates do not follow order dates
    write("lineitem", {
        "l_orderkey": int64(rng.randint(0, N_ORD, N_LINE)),
        "l_partkey": int64(rng.randint(0, N_PART, N_LINE)),
        "l_suppkey": int64(rng.randint(0, N_SUPP, N_LINE)),
        "l_linenumber": int32(rng.randint(1, 8, N_LINE)),
        "l_quantity": rng.randint(1, 51, N_LINE).astype(np.float64),
        "l_extendedprice": money(900, 105000, N_LINE),
        "l_discount": rng.randint(0, 11, N_LINE) / 100.0,
        "l_tax": rng.randint(0, 9, N_LINE) / 100.0,
        "l_returnflag": pick(["A", "N", "R"], N_LINE),
        "l_linestatus": pick(["O", "F"], N_LINE),
        "l_shipdate": days(rng.randint(1, 2500, N_LINE))})

    e0 = np.datetime64("2024-01-01", "us")
    ets = np.sort(e0 + (rng.uniform(0, 30 * 86400, N_EVT) * 1e6).astype("timedelta64[us]"))
    write("events", {
        "event_id": int64(np.arange(N_EVT)),
        "ts": pa.array(ets, pa.timestamp("us")),
        "user_id": int64(rng.randint(0, 1500, N_EVT)),
        "event_type": pick(["click", "view", "purchase", "signup", "error"], N_EVT),
        "value": np.round(rng.exponential(50.0, N_EVT), 2),
        "props": [f'{{"k": {k}}}' for k in rng.randint(0, 100, N_EVT)]})

    vocab = ("spark window merge table column vector stream value data small "
             "join filter big group hash customer sort order slow line part "
             "fast row the agg key query a scan batch").split()
    texts = [" ".join(pick(vocab, rng.randint(10, 101))) for _ in range(N_DOC)]
    for _ in range(N_EXACT_DUP):
        texts[rng.randint(N_DOC)] = texts[rng.randint(N_DOC)]
    for _ in range(N_NEAR_DUP):
        texts[rng.randint(N_DOC)] = texts[rng.randint(N_DOC)] + " dup"
    write("documents", {
        "doc_id": int64(np.arange(N_DOC)),
        "text": texts,
        "lang": pick(["en", "zh", "es", "fr", "de"], N_DOC, p=[0.41, 0.15, 0.15, 0.15, 0.14]),
        "source": [f"src{s}" for s in rng.randint(0, 20, N_DOC)],
        "n_chars": int64([len(t) for t in texts])})

    emb = rng.normal(0, 1, (N_EMB, 64))
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    write("embeddings", {
        "vec_id": int64(np.arange(N_EMB)),
        "embedding": pa.array(list(emb.astype(np.float32)), pa.list_(pa.float32())),
        "label": int32(rng.randint(0, 10, N_EMB))})


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    generate(sys.argv[1])
