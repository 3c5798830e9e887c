#!/usr/bin/env python3
"""Deterministic synthetic input tables for the benchmark.

Writes the ten canonical tables the engine reads (`region nation
customer supplier part orders lineitem events documents embeddings`,
one parquet file each) with the engine's column names and types: a
TPC-H-like star schema, a click-stream `events` table and an
LLM-curation corpus (`documents` with planted near-duplicates,
`embeddings` clustered around ten labels).

The content is a pure function of the scale name: the generator seed is
fixed, so every checkout produces byte-identical inputs and the
reference output digests committed beside this file stay valid. The
benchmark's own `--seed` never reaches this file; it only orders the
work.

Usage: python3 gen_data.py SCALE DST     (SCALE: sf0.1 | sf0.01 | sf0.001)
"""
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# rows per table, named after the engine test data whose shape each
# scale has (lineitem follows from orders: 1-7 lines an order)
SCALES = {
    "sf0.1": dict(customer=15000, supplier=1000, part=20000, orders=150000,
                  events=100000, documents=5000, embeddings=2000),
    "sf0.01": dict(customer=1500, supplier=100, part=2000, orders=15000,
                   events=10000, documents=500, embeddings=500),
    "sf0.001": dict(customer=150, supplier=10, part=200, orders=1500,
                    events=1000, documents=500, embeddings=500),
}
GEN_SEED = 42
SCHEME = 1  # bump on any change that alters content

WORDS = ("a the key agg row scan slow fast table value part hash merge "
         "batch spark line sort window data column join small customer "
         "query big filter order group vector stream").split()
LANGS = ["en", "es", "fr", "de", "zh"]
LANG_P = [0.41, 0.15, 0.15, 0.14, 0.15]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "cold", "hot", "large", "new"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
DAY_US = 86_400_000_000
EPOCH_1995 = 788_918_400_000_000      # 1995-01-01T00:00:00Z in micros
EPOCH_2024 = 1_704_067_200_000_000    # 2024-01-01T00:00:00Z in micros


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def ts_us(values):
    return pa.array(values.astype("int64"), pa.timestamp("us"))


def generate(scale):
    n = SCALES[scale]
    rng = np.random.RandomState(GEN_SEED)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    nc = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(range(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.randint(0, 25, nc), pa.int32()),
        "c_acctbal": money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": [SEGMENTS[i] for i in rng.randint(0, 5, nc)]})
    ns = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(range(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.randint(0, 25, ns), pa.int32()),
        "s_acctbal": money(rng, -999.99, 9999.99, ns)})
    npart = n["part"]
    price = np.round(rng.uniform(900.0, 999.9, npart), 1)
    t["part"] = pa.table({
        "p_partkey": pa.array(range(npart), pa.int64()),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.randint(0, 5, npart), rng.randint(0, 8, npart))],
        "p_brand": [f"Brand#{i}" for i in rng.randint(1, 26, npart)],
        "p_type": [PART_TYPES[i] for i in rng.randint(0, 6, npart)],
        "p_size": pa.array(rng.randint(1, 51, npart), pa.int32()),
        "p_retailprice": price})

    no = n["orders"]
    odate = EPOCH_1995 + rng.randint(0, 2404, no).astype("int64") * DAY_US
    t["orders"] = pa.table({
        "o_orderkey": pa.array(range(no), pa.int64()),
        # a tenth of the customers never order (anti-join input)
        "o_custkey": pa.array(rng.randint(0, nc - nc // 10, no), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.randint(0, 3, no)],
        "o_totalprice": money(rng, 1000.0, 500000.0, no),
        "o_orderdate": ts_us(odate),
        "o_orderpriority": [PRIORITIES[i] for i in rng.randint(0, 5, no)]})

    lines = rng.randint(1, 8, no)
    lo = np.repeat(np.arange(no), lines)
    ln = np.concatenate([np.arange(1, k + 1) for k in lines])
    nl = len(lo)
    lpart = rng.randint(0, npart, nl)
    qty = rng.randint(1, 51, nl).astype("float64")
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(lo, pa.int64()),
        "l_partkey": pa.array(lpart, pa.int64()),
        "l_suppkey": pa.array(rng.randint(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(ln, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * price[lpart], 2),
        "l_discount": rng.randint(0, 11, nl) / 100.0,
        "l_tax": rng.randint(0, 9, nl) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.randint(0, 3, nl)],
        "l_linestatus": [("F", "O")[i] for i in rng.randint(0, 2, nl)],
        "l_shipdate": ts_us(odate[lo] + rng.randint(1, 122, nl) * DAY_US)})

    ne = n["events"]
    # distinct, time-ordered event times over 30 days
    offs = np.unique(rng.randint(0, 30 * DAY_US, ne + ne // 10, dtype="int64"))
    offs = np.sort(rng.permutation(offs)[:ne])
    t["events"] = pa.table({
        "event_id": pa.array(range(ne), pa.int64()),
        "ts": ts_us(EPOCH_2024 + offs),
        "user_id": pa.array(rng.randint(0, min(nc, 1500), ne), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.randint(0, 5, ne)],
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.randint(0, 100, ne)]})

    nd = n["documents"]
    texts = []
    for i in range(nd):
        r = rng.rand()
        if i > 10 and r < 0.05:     # near-duplicate of an earlier doc
            texts.append(texts[rng.randint(0, i)] + " dup")
        elif i > 10 and r < 0.06:   # exact duplicate
            texts.append(texts[rng.randint(0, i)])
        else:
            k = rng.randint(10, 101)
            texts.append(" ".join(WORDS[j] for j in rng.randint(0, len(WORDS), k)))
    t["documents"] = pa.table({
        "doc_id": pa.array(range(nd), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(5, nd, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array([len(s) for s in texts], pa.int64())})

    nv, dim = n["embeddings"], 64
    centers = rng.normal(0.0, 1.0, (10, dim))
    label = rng.randint(0, 10, nv)
    vec = centers[label] + rng.normal(0.0, 1.2, (nv, dim))
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(range(nv), pa.int64()),
        "embedding": pa.array(list(vec.astype("float32")),
                              pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32())})
    return t


def main():
    scale, dst = sys.argv[1], sys.argv[2]
    os.makedirs(dst, exist_ok=True)
    rows = {}
    for name, table in generate(scale).items():
        pq.write_table(table, f"{dst}/{name}.parquet", version="2.6")
        rows[name] = table.num_rows
    # written last: a half-written directory carries no manifest
    with open(f"{dst}/_MANIFEST.json", "w") as f:
        json.dump({"scale": scale, "scheme": SCHEME, "tables": rows}, f)


if __name__ == "__main__":
    main()
