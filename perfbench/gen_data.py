#!/usr/bin/env python3
"""Deterministic input tables for the benchmark.

Writes the ten parquet tables the engine reads (`region nation customer
supplier part orders lineitem events documents embeddings`) with the same
column names, physical types and value shapes as the project's TPC-H-ish
test data, at a given scale factor. Every value comes from Python's
Mersenne Twister seeded per table, so one (scale, data seed) pair always
gives byte-identical tables.

The tables are fixed per scale: the run's `--seed` varies arrival jitter and
query order, never the rows, so one reference fingerprint per query holds
for every run.

    python3 perfbench/gen_data.py <out_dir> <scale>
"""
import datetime as dt
import math
import os
import random
import sys

import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_WEIGHTS = (0.41, 0.15, 0.15, 0.15, 0.14)
EPOCH = dt.datetime(1970, 1, 1)


def rng(table):
    return random.Random(f"{DATA_SEED}:{table}")


def micros(d):
    return (d - EPOCH) // dt.timedelta(microseconds=1)


def ts_col(values):
    return pa.array(values, type=pa.int64()).cast(pa.timestamp("us"))


def write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def sizes(sf):
    return {
        "customer": int(150_000 * sf), "supplier": int(10_000 * sf),
        "part": int(200_000 * sf), "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf), "events": int(1_000_000 * sf),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def gen_dims(out):
    write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})


def gen_customer(out, n):
    r = rng("customer")
    segs = ["FURNITURE", "MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD"]
    write(out, "customer", {
        "c_custkey": pa.array(range(n), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array([r.randrange(25) for _ in range(n)], pa.int32()),
        "c_acctbal": [round(r.uniform(-999.99, 9999.99), 2) for _ in range(n)],
        "c_mktsegment": [r.choice(segs) for _ in range(n)]})


def gen_supplier(out, n):
    r = rng("supplier")
    write(out, "supplier", {
        "s_suppkey": pa.array(range(n), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array([r.randrange(25) for _ in range(n)], pa.int32()),
        "s_acctbal": [round(r.uniform(-999.99, 9999.99), 2) for _ in range(n)]})


def gen_part(out, n):
    r = rng("part")
    adj = ["small", "large", "red", "blue", "hot", "cold", "old", "new"]
    noun = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo"]
    types = ["LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO"]
    write(out, "part", {
        "p_partkey": pa.array(range(n), pa.int64()),
        "p_name": [f"{r.choice(adj)} {r.choice(noun)}" for _ in range(n)],
        "p_brand": [f"Brand#{r.randint(1, 25)}" for _ in range(n)],
        "p_type": [r.choice(types) for _ in range(n)],
        "p_size": pa.array([r.randint(1, 50) for _ in range(n)], pa.int32()),
        "p_retailprice": [round(900 + (i % 1000) / 10, 2) for i in range(n)]})


def gen_orders(out, n, ncust):
    r = rng("orders")
    d0 = micros(dt.datetime(1995, 1, 1))
    day = 86_400_000_000
    write(out, "orders", {
        "o_orderkey": pa.array(range(n), pa.int64()),
        "o_custkey": pa.array([r.randrange(ncust) for _ in range(n)], pa.int64()),
        "o_orderstatus": [r.choice("OFP") for _ in range(n)],
        "o_totalprice": [round(r.uniform(1000, 500_000), 2) for _ in range(n)],
        "o_orderdate": ts_col([d0 + r.randrange(2404) * day for _ in range(n)]),
        "o_orderpriority": [r.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                      "4-NOT SPECIFIED", "5-LOW"]) for _ in range(n)]})


def gen_lineitem(out, n, norders, npart, nsupp):
    r = rng("lineitem")
    d0 = micros(dt.datetime(1995, 1, 2))
    day = 86_400_000_000
    rr, ri = r.randrange, r.randint
    write(out, "lineitem", {
        "l_orderkey": pa.array([rr(norders) for _ in range(n)], pa.int64()),
        "l_partkey": pa.array([rr(npart) for _ in range(n)], pa.int64()),
        "l_suppkey": pa.array([rr(nsupp) for _ in range(n)], pa.int64()),
        "l_linenumber": pa.array([ri(1, 7) for _ in range(n)], pa.int32()),
        "l_quantity": [float(ri(1, 50)) for _ in range(n)],
        "l_extendedprice": [round(r.uniform(900, 105_000), 2) for _ in range(n)],
        "l_discount": [ri(0, 10) / 100 for _ in range(n)],
        "l_tax": [ri(0, 8) / 100 for _ in range(n)],
        "l_returnflag": [r.choice("NAR") for _ in range(n)],
        "l_linestatus": [r.choice("OF") for _ in range(n)],
        "l_shipdate": ts_col([d0 + rr(2500) * day for _ in range(n)])})


def gen_events(out, n, nusers):
    """Event times are a Poisson process over 30 days, in event_id order."""
    r = rng("events")
    t = micros(dt.datetime(2024, 1, 1))
    mean_gap = 30 * 86_400_000_000 / n
    ts = []
    for _ in range(n):
        t += max(1, int(r.expovariate(1 / mean_gap)))
        ts.append(t)
    kinds = ["signup", "purchase", "view", "click", "error"]
    write(out, "events", {
        "event_id": pa.array(range(n), pa.int64()),
        "ts": ts_col(ts),
        "user_id": pa.array([r.randrange(nusers) for _ in range(n)], pa.int64()),
        "event_type": [r.choice(kinds) for _ in range(n)],
        "value": [max(0.01, round(r.expovariate(1 / 50), 2)) for _ in range(n)],
        "props": [f'{{"k": {r.randrange(100)}}}' for _ in range(n)]})


def gen_documents(out, n):
    """Word soup over a 30-word vocabulary; ~5% near-duplicates of an
    earlier document (a few words swapped, a `dup` marker appended) and a
    handful of exact copies, so the dedup families have work to do."""
    r = rng("documents")
    texts = []
    for i in range(n):
        u = r.random()
        if i > 10 and u < 0.05:
            words = texts[r.randrange(i)].split()
            for _ in range(max(1, len(words) // 20)):
                words[r.randrange(len(words))] = r.choice(VOCAB)
            texts.append(" ".join(words + ["dup"]))
        elif i > 10 and u < 0.052:
            texts.append(texts[r.randrange(i)])
        else:
            texts.append(" ".join(r.choice(VOCAB) for _ in range(r.randint(10, 100))))
    write(out, "documents", {
        "doc_id": pa.array(range(n), pa.int64()),
        "text": texts,
        "lang": r.choices(LANGS, LANG_WEIGHTS, k=n),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})


def gen_embeddings(out, n, dim=64):
    r = rng("embeddings")
    vecs = []
    for _ in range(n):
        v = [r.gauss(0.0, 1.0) for _ in range(dim)]
        norm = math.sqrt(sum(x * x for x in v))
        vecs.append([x / norm for x in v])
    write(out, "embeddings", {
        "vec_id": pa.array(range(n), pa.int64()),
        "embedding": pa.array(vecs, pa.list_(pa.float32())),
        "label": pa.array([r.randrange(10) for _ in range(n)], pa.int32())})


def generate(out, sf):
    os.makedirs(out, exist_ok=True)
    n = sizes(sf)
    gen_dims(out)
    gen_customer(out, n["customer"])
    gen_supplier(out, n["supplier"])
    gen_part(out, n["part"])
    gen_orders(out, n["orders"], n["customer"])
    gen_lineitem(out, n["lineitem"], n["orders"], n["part"], n["supplier"])
    gen_events(out, n["events"], n["customer"] // 10)
    gen_documents(out, n["documents"])
    gen_embeddings(out, n["embeddings"])


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    generate(sys.argv[1], float(sys.argv[2]))
