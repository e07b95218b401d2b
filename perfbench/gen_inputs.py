#!/usr/bin/env python3
"""Deterministic input tables for the benchmark.

Usage: python3 perfbench/gen_inputs.py <out_dir>

Writes the ten fixture tables the engine's catalog reads (TPC-H-ish
star schema, an `events` stream table, `documents` and `embeddings`)
as one parquet file each, at the 0.1 scale: 600k lineitem rows,
100k events over 30 days, 5000 documents with exact and near
duplicates, 2000 unit-norm 64-dim embeddings. The schemas, row
counts, key domains, value ranges and text lengths follow the 0.1-scale
fixture tables the catalog was written against (documents: 10-100
words, about 300 characters; l_shipdate: 1995-01 to 2001-11; events:
30 days, ids in arrival order).

The tables do not depend on the benchmark seed: the seed picks what a
run does with them (query order, landed rows, probe samples), so
golden checksums stay valid across seeds. The same numpy version
gives byte-identical values on every call.
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 42
SIZES = {
    "lineitem": 600_000, "orders": 150_000, "customer": 15_000,
    "supplier": 1_000, "part": 20_000, "events": 100_000, "users": 1_500,
    "docs": 5_000, "near_dups": 250, "exact_dups": 8, "vecs": 2_000,
}
DIM = 64

WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["large", "hot", "blue", "old", "cold", "red", "small", "new"]
PART_NOUN = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

DAY_US = 86_400 * 1_000_000


def ts_us(days_since_epoch):
    return pa.array(np.asarray(days_since_epoch, dtype=np.int64) * DAY_US,
                    type=pa.timestamp("us"))


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def pick(rng, values, n):
    return pa.array(values).take(pa.array(rng.integers(0, len(values), n)))


def tables(rng, sizes):
    n_lineitem, n_orders, n_customer = sizes["lineitem"], sizes["orders"], sizes["customer"]
    n_supplier, n_part, n_events = sizes["supplier"], sizes["part"], sizes["events"]
    n_users, n_docs, n_vecs = sizes["users"], sizes["docs"], sizes["vecs"]
    n_near_dups, n_exact_dups = sizes["near_dups"], sizes["exact_dups"]
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": pa.array(REGIONS)})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())})
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_customer), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_customer)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_customer), pa.int32()),
        "c_acctbal": money(rng, -999.99, 9999.99, n_customer),
        "c_mktsegment": pick(rng, SEGMENTS, n_customer)})
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supplier), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supplier)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supplier), pa.int32()),
        "s_acctbal": money(rng, -999.99, 9999.99, n_supplier)})
    adj = rng.integers(0, len(PART_ADJ), n_part)
    noun = rng.integers(0, len(PART_NOUN), n_part)
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": pa.array([f"{PART_ADJ[a]} {PART_NOUN[b]}"
                            for a, b in zip(adj, noun)]),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(0, 25, n_part)]),
        "p_type": pick(rng, PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)})
    # 1995-01-01 .. 2001-08-01 as days since the epoch
    d0, d1 = 9131, 11535
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_customer, n_orders), pa.int64()),
        "o_orderstatus": pick(rng, ["F", "O", "P"], n_orders),
        "o_totalprice": money(rng, 1000.0, 500000.0, n_orders),
        "o_orderdate": ts_us(rng.integers(d0, d1 + 1, n_orders)),
        "o_orderpriority": pick(rng, PRIORITIES, n_orders)})
    qty = rng.integers(1, 51, n_lineitem).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_orders, n_lineitem), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_lineitem), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supplier, n_lineitem), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_lineitem), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": money(rng, 900.0, 105000.0, n_lineitem),
        "l_discount": money(rng, 0.0, 0.10, n_lineitem),
        "l_tax": money(rng, 0.0, 0.08, n_lineitem),
        "l_returnflag": pick(rng, ["A", "N", "R"], n_lineitem),
        "l_linestatus": pick(rng, ["F", "O"], n_lineitem),
        "l_shipdate": ts_us(rng.integers(d0, d1 + 95, n_lineitem))})
    # events: sorted arrival times over 2024-01-01 .. 2024-01-30 (30 days)
    start = 19723 * DAY_US
    ts = np.sort(rng.integers(start, start + 30 * DAY_US, n_events))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_events), pa.int64()),
        "event_type": pick(rng, EVENT_TYPES, n_events),
        "value": np.round(rng.exponential(50.0, n_events), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)])})
    # documents: word soup of 10-99 words, plus near-dups (a copy with
    # one word appended) and a few exact copies, each of a distinct
    # source, so dedup operators have real clusters
    n_base = n_docs - n_near_dups - n_exact_dups
    texts = [" ".join(np.asarray(WORDS)[rng.integers(0, len(WORDS), rng.integers(10, 100))])
             for _ in range(n_base)]
    src = rng.choice(n_base, n_near_dups + n_exact_dups, replace=False)
    texts += [texts[i] + " dup" for i in src[:n_near_dups]]
    texts += [texts[i] for i in src[n_near_dups:]]
    order = rng.permutation(n_docs)
    texts = [texts[i] for i in order]
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": pa.array(texts),
        "lang": pick(rng, ["en", "en", "en", "de", "es", "fr", "zh"], n_docs),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    vecs = rng.standard_normal((n_vecs, DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs), pa.int32())})
    return out


def main(out_dir):
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(BASE_SEED)
    for name, table in tables(rng, SIZES).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit("usage: gen_inputs.py <out_dir>")
    main(sys.argv[1])
