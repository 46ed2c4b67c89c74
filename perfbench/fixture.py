#!/usr/bin/env python3
"""Fixed sf0.1-shaped parquet fixture for the sql_mix and web_curation workloads.

The benchmark reads nothing outside its checkout, so it generates its own
copy of the engine's ten fixture tables (TPC-H-shaped region .. lineitem,
plus events, documents and embeddings) with the same schemas, value domains
and physical encoding as the engine's test fixtures: one row group, snappy,
naive microsecond timestamps.

The generator seed is FIXED, not the workload seed: the DuckDB digests in
digests.json are computed once over exactly these bytes. The workload seed
orders the query loop and shuffles the pages; it never changes this data.

Usage: python3 perfbench/fixture.py <outDir>
"""
import datetime
import os
import random
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FIXTURE_SEED = 20260101
SF = 0.02
N_DOCS = 1000      # web corpus; sized so one curation round fits a run
N_VECS = 2000
N_EVENTS = 100_000

VOCAB = ["spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "join", "filter", "big", "group", "hash",
         "customer", "sort", "order", "slow", "line", "part", "fast", "row",
         "the", "a", "agg", "key", "query", "scan", "batch"]
LANGS = ["en"] * 41 + ["zh"] * 15 + ["es"] * 15 + ["fr"] * 15 + ["de"] * 14


def us(y, m, d):
    return int((datetime.datetime(y, m, d) - datetime.datetime(1970, 1, 1))
               .total_seconds()) * 1_000_000


def write(out, name, cols):
    table = pa.table(cols)
    pq.write_table(table, os.path.join(out, f"{name}.parquet"),
                   compression="snappy", row_group_size=max(1, table.num_rows))


def ts_array(values_us):
    return pa.array(np.asarray(values_us, dtype="int64"), pa.int64()).cast(
        pa.timestamp("us"))


def tpch(out, rng):
    n_cust, n_supp = int(150_000 * SF), int(10_000 * SF)
    n_part, n_ord, n_li = int(200_000 * SF), int(1_500_000 * SF), int(6_000_000 * SF)
    write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    write(out, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.integers(-99999, 999999, n_cust) / 100.0, 2),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)]})
    write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.integers(-99999, 999999, n_supp) / 100.0, 2)})
    adj = np.array(["blue", "old", "small", "new", "large", "hot", "cold", "red"])
    noun = np.array(["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"])
    types = np.array(["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"])
    pk = np.arange(n_part)
    write(out, "part", {
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, n_part)], " "),
                              noun[rng.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1)})
    day = 86_400 * 1_000_000
    o0, o1 = us(1995, 1, 1), us(2001, 8, 1)
    write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.integers(100_000, 50_000_000, n_ord) / 100.0, 2),
        "o_orderdate": ts_array(o0 + rng.integers(0, (o1 - o0) // day + 1, n_ord) * day),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                     "4-NOT SPECIFIED", "5-LOW"])[rng.integers(0, 5, n_ord)]})
    s0, s1 = us(1995, 1, 2), us(2001, 11, 4)
    write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype("float64"),
        "l_extendedprice": np.round(rng.integers(90_000, 10_500_000, n_li) / 100.0, 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_li)],
        "l_shipdate": ts_array(s0 + rng.integers(0, (s1 - s0) // day + 1, n_li) * day)})


def events(out, rng):
    t0 = us(2024, 1, 1)
    ts = np.sort(t0 + rng.integers(0, 30 * 86_400 * 1_000_000, N_EVENTS))
    write(out, "events", {
        "event_id": pa.array(np.arange(N_EVENTS), pa.int64()),
        "ts": ts_array(ts),
        "user_id": pa.array(rng.integers(0, 1500, N_EVENTS), pa.int64()),
        "event_type": np.array(["click", "view", "purchase", "signup", "error"])[
            rng.integers(0, 5, N_EVENTS)],
        "value": np.round(rng.exponential(40.0, N_EVENTS), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)]})


def documents(out, r):
    ids, texts, langs, sources = [], [], [], []

    def add(words, lang, src):
        ids.append(len(ids)); texts.append(" ".join(words))
        langs.append(lang); sources.append(src)

    while len(ids) < N_DOCS:
        n = r.randint(19, 90)
        words = [r.choice(VOCAB) for _ in range(n)]
        if r.random() < 0.05:
            words[r.randrange(n)] = "dup"
        lang, src = r.choice(LANGS), f"src{r.randrange(20)}"
        add(words, lang, src)
        # planted near-duplicate runs (one word mutated) and exact copies,
        # so the dedup and split stages have clusters to find
        if r.random() < 0.02:
            for _ in range(r.randint(1, 3)):
                if len(ids) < N_DOCS:
                    w2 = list(words); w2[r.randrange(n)] = r.choice(VOCAB)
                    add(w2, lang, src)
        if r.random() < 0.003 and len(ids) < N_DOCS:
            add(words, lang, src)
    write(out, "documents", {
        "doc_id": pa.array(ids, pa.int64()), "text": texts, "lang": langs,
        "source": sources,
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})


def embeddings(out, rng):
    centers = rng.normal(0, 1.0, size=(10, 64)).astype(np.float32)
    labels = rng.integers(0, 10, N_VECS)
    vecs = centers[labels] + rng.normal(0, 0.35, (N_VECS, 64)).astype(np.float32)
    write(out, "embeddings", {
        "vec_id": pa.array(np.arange(N_VECS), pa.int64()),
        "embedding": pa.array([v.tolist() for v in vecs], pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})


def main(out):
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(FIXTURE_SEED)
    tpch(out, rng)
    events(out, rng)
    embeddings(out, rng)
    documents(out, random.Random(FIXTURE_SEED))


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit("usage: fixture.py <outDir>")
    main(sys.argv[1])
