#!/usr/bin/env python3
"""Deterministic synthetic input tables for the benchmark.

Writes the ten tables the graded queries read (`region nation customer
supplier part orders lineitem events documents embeddings`), one parquet
file each, with the same column names, physical types and value ranges as
the project's test tables: TPC-H-ish star schema columns drawn
independently and uniformly, an `events` CDC bus spanning January 2024,
word-soup `documents` (about a tenth of them exact or near duplicates of
an earlier one, so the dedup queries find pairs) and unit-norm 64-d
`embeddings`.

The tables depend only on the scale factor and the fixed generator seed,
so the committed expected outputs stay valid; a run's `--seed` orders the
queries and drives the live-bus traffic instead.

Usage: python3 perfbench/gen_data.py <sf> <out_dir>
"""
import datetime as dt
import math
import os
import random
import sys

import pyarrow as pa
import pyarrow.parquet as pq

GEN_SEED = 42
VERSION = "2"  # bump when the generated bytes change
NEAR_DUP_FRAC = 0.1

WORDS = ("fast spark line small customer group row the query stream value "
         "hash batch sort data big filter dup key agg scan slow table part "
         "a merge window order column join vector").split()
LANGS = ["en"] * 44 + ["es"] * 14 + ["zh"] * 15 + ["de"] * 14 + ["fr"] * 13
EVENT_TYPES = ["signup", "click", "view", "purchase", "error"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PTYPES = ["ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM"]
PCOLORS = ["small", "red", "blue", "green", "large", "steel"]
PNOUNS = ["ring", "widget", "bolt", "gear", "panel", "spring"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def sizes(sf):
    def n(base, floor):
        return max(floor, int(round(base * sf)))
    return {
        "customer": n(150_000, 150), "supplier": n(10_000, 10),
        "part": n(200_000, 200), "orders": n(1_500_000, 1500),
        "lineitem": n(6_000_000, 6000), "events": n(1_000_000, 1000),
        "documents": max(500, n(50_000, 500)), "embeddings": max(500, n(20_000, 500)),
    }


def write(out, name, cols):
    table = pa.table(cols)
    pq.write_table(table, os.path.join(out, f"{name}.parquet"))


def ts_col(values):
    return pa.array(values, type=pa.timestamp("us"))


def gen(sf, out):
    os.makedirs(out, exist_ok=True)
    n = sizes(sf)
    r = random.Random(GEN_SEED)
    epoch95 = dt.datetime(1995, 1, 1)

    write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    write(out, "customer", {
        "c_custkey": pa.array(range(n["customer"]), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": pa.array([r.randrange(25) for _ in range(n["customer"])], pa.int32()),
        "c_acctbal": [round(r.uniform(-999.99, 9999.99), 2) for _ in range(n["customer"])],
        "c_mktsegment": [r.choice(SEGMENTS) for _ in range(n["customer"])]})
    write(out, "supplier", {
        "s_suppkey": pa.array(range(n["supplier"]), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
        "s_nationkey": pa.array([r.randrange(25) for _ in range(n["supplier"])], pa.int32()),
        "s_acctbal": [round(r.uniform(-999.99, 9999.99), 2) for _ in range(n["supplier"])]})
    write(out, "part", {
        "p_partkey": pa.array(range(n["part"]), pa.int64()),
        "p_name": [f"{r.choice(PCOLORS)} {r.choice(PNOUNS)}" for _ in range(n["part"])],
        "p_brand": [f"Brand#{r.randrange(1, 26)}" for _ in range(n["part"])],
        "p_type": [r.choice(PTYPES) for _ in range(n["part"])],
        "p_size": pa.array([r.randint(1, 50) for _ in range(n["part"])], pa.int32()),
        "p_retailprice": [round(900 + (i % 1000) * 0.1, 2) for i in range(n["part"])]})

    span_days = (dt.datetime(2001, 8, 1) - epoch95).days
    write(out, "orders", {
        "o_orderkey": pa.array(range(n["orders"]), pa.int64()),
        "o_custkey": pa.array([r.randrange(n["customer"]) for _ in range(n["orders"])], pa.int64()),
        "o_orderstatus": [r.choice("FOP") for _ in range(n["orders"])],
        "o_totalprice": [round(r.uniform(1000, 500000), 2) for _ in range(n["orders"])],
        "o_orderdate": ts_col([epoch95 + dt.timedelta(days=r.randint(0, span_days))
                               for _ in range(n["orders"])]),
        "o_orderpriority": [r.choice(PRIORITIES) for _ in range(n["orders"])]})

    nl = n["lineitem"]
    qty = [float(r.randint(1, 50)) for _ in range(nl)]
    partkeys = [r.randrange(n["part"]) for _ in range(nl)]
    write(out, "lineitem", {
        "l_orderkey": pa.array([r.randrange(n["orders"]) for _ in range(nl)], pa.int64()),
        "l_partkey": pa.array(partkeys, pa.int64()),
        "l_suppkey": pa.array([r.randrange(n["supplier"]) for _ in range(nl)], pa.int64()),
        "l_linenumber": pa.array([r.randint(1, 7) for _ in range(nl)], pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": [round(q * (900 + (p % 1000) * 0.1), 2) for q, p in zip(qty, partkeys)],
        "l_discount": [r.randint(0, 10) / 100 for _ in range(nl)],
        "l_tax": [r.randint(0, 8) / 100 for _ in range(nl)],
        "l_returnflag": [r.choice("ANR") for _ in range(nl)],
        "l_linestatus": [r.choice("FO") for _ in range(nl)],
        "l_shipdate": ts_col([epoch95 + dt.timedelta(days=r.randint(1, span_days + 95))
                              for _ in range(nl)])})

    ne = n["events"]
    users = max(150, int(round(15_000 * sf)))
    gap_us = 30 * 86400 * 1_000_000 / ne
    t = dt.datetime(2024, 1, 1)
    ts = []
    for _ in range(ne):
        t = t + dt.timedelta(microseconds=int(r.expovariate(1.0) * gap_us))
        ts.append(t)
    write(out, "events", {
        "event_id": pa.array(range(ne), pa.int64()),
        "ts": ts_col(ts),
        "user_id": pa.array([r.randrange(users) for _ in range(ne)], pa.int64()),
        "event_type": [r.choice(EVENT_TYPES) for _ in range(ne)],
        "value": [round(r.uniform(0.01, 490.0), 2) for _ in range(ne)],
        "props": [f'{{"k": {r.randrange(100)}}}' for _ in range(ne)]})

    nd = n["documents"]
    texts = []
    for i in range(nd):
        if i >= 10 and r.random() < NEAR_DUP_FRAC:
            # a near-duplicate: an earlier document with a few words replaced
            ws = r.choice(texts).split(" ")
            for _ in range(r.randint(0, 2)):
                ws[r.randrange(len(ws))] = r.choice(WORDS)
        else:
            ws = [r.choice(WORDS) for _ in range(r.randint(10, 100))]
        texts.append(" ".join(ws)[:553])
    write(out, "documents", {
        "doc_id": pa.array(range(nd), pa.int64()),
        "text": texts,
        "lang": [r.choice(LANGS) for _ in range(nd)],
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array([len(s) for s in texts], pa.int64())})

    nv = n["embeddings"]
    vecs = []
    for _ in range(nv):
        v = [r.gauss(0, 1) for _ in range(64)]
        norm = math.sqrt(sum(x * x for x in v))
        vecs.append([x / norm for x in v])
    write(out, "embeddings", {
        "vec_id": pa.array(range(nv), pa.int64()),
        "embedding": pa.array(vecs, pa.list_(pa.float32())),
        "label": pa.array([r.randrange(10) for _ in range(nv)], pa.int32())})


if __name__ == "__main__":
    gen(float(sys.argv[1]), sys.argv[2])
