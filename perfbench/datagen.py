"""Seeded synthetic input tables for the benchmark.

The tables have the schemas and value shapes the graft registry reads
(a TPC-H-like star schema, an `events` stream, a `documents` corpus and
an `embeddings` table), one parquet file each. Row counts come from the
workload's sizes; every value comes from `numpy.random.default_rng(seed)`,
so the same seed and sizes give byte-identical files.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
WORDS = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
DUP_SHARE = 0.05
EMBED_DIM = 64


def tpch_sizes(sf):
    """Row counts of the star schema and events at scale factor `sf`."""
    return {
        "customer": int(150_000 * sf), "supplier": max(10, int(10_000 * sf)),
        "part": int(200_000 * sf), "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf), "events": int(1_000_000 * sf),
    }


def _days(start, n_days, size, rng):
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, n_days, size)).astype("datetime64[us]")


def _money(rng, lo, hi, size):
    return np.round(rng.uniform(lo, hi, size), 2)


def _names(prefix, keys):
    return pa.array([f"{prefix}#{k:09d}" for k in keys.tolist()])


def _tables(sizes, rng):
    n = sizes
    yield "region", pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS)})
    nk = np.arange(25, dtype=np.int32)
    yield "nation", pa.table({
        "n_nationkey": pa.array(nk),
        "n_name": pa.array([f"NATION_{k}" for k in nk.tolist()]),
        "n_regionkey": pa.array(nk % 5)})

    ck = np.arange(n["customer"], dtype=np.int64)
    yield "customer", pa.table({
        "c_custkey": pa.array(ck), "c_name": _names("Customer", ck),
        "c_nationkey": pa.array(rng.integers(0, 25, ck.size, dtype=np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, ck.size)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, ck.size))})

    sk = np.arange(n["supplier"], dtype=np.int64)
    yield "supplier", pa.table({
        "s_suppkey": pa.array(sk), "s_name": _names("Supplier", sk),
        "s_nationkey": pa.array(rng.integers(0, 25, sk.size, dtype=np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, sk.size))})

    pk = np.arange(n["part"], dtype=np.int64)
    yield "part", pa.table({
        "p_partkey": pa.array(pk),
        "p_name": pa.array(np.char.add(np.char.add(
            rng.choice(PART_ADJ, pk.size), " "), rng.choice(PART_NOUN, pk.size))),
        "p_brand": pa.array(np.char.add("Brand#", rng.integers(1, 26, pk.size).astype(str))),
        "p_type": pa.array(rng.choice(PART_TYPES, pk.size)),
        "p_size": pa.array(rng.integers(1, 51, pk.size, dtype=np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (pk % 1000) * 0.1, 1))})

    ok = np.arange(n["orders"], dtype=np.int64)
    yield "orders", pa.table({
        "o_orderkey": pa.array(ok),
        "o_custkey": pa.array(rng.integers(0, ck.size, ok.size, dtype=np.int64)),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], ok.size)),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, ok.size)),
        "o_orderdate": pa.array(_days("1995-01-01", 2404, ok.size, rng)),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, ok.size))})

    nl = n["lineitem"]
    yield "lineitem", pa.table({
        "l_orderkey": pa.array(rng.integers(0, ok.size, nl, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, pk.size, nl, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, sk.size, nl, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, nl, dtype=np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, nl)),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], nl)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], nl)),
        "l_shipdate": pa.array(_days("1995-01-02", 2499, nl, rng))})

    ne = n["events"]
    month_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, month_us, ne)) + np.datetime64("2024-01-01", "us")
    yield "events", pa.table({
        "event_id": pa.array(np.arange(ne, dtype=np.int64)),
        "ts": pa.array(ts.astype("datetime64[us]")),
        "user_id": pa.array(rng.integers(0, max(10, ne * 3 // 200), ne, dtype=np.int64)),
        "event_type": pa.array(rng.choice(EVENT_TYPES, ne)),
        "value": pa.array(np.maximum(0.01, np.round(rng.exponential(50.0, ne), 2))),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne).tolist()])})

    nd = n["documents"]
    texts = []
    for i in range(nd):
        if i > 0 and rng.random() < DUP_SHARE:
            # a planted near-duplicate: an earlier document plus a marker word
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 100)))))
    yield "documents", pa.table({
        "doc_id": pa.array(np.arange(nd, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, nd, p=LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(nd)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64))})

    nv = n["embeddings"]
    v = rng.standard_normal((nv, EMBED_DIM)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    yield "embeddings", pa.table({
        "vec_id": pa.array(np.arange(nv, dtype=np.int64)),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, (nv + 1) * EMBED_DIM, EMBED_DIM, dtype=np.int32)),
            pa.array(v.reshape(-1))),
        "label": pa.array(rng.integers(0, 10, nv, dtype=np.int32))})


def generate(out_dir, seed, sizes):
    """Write every table to `out_dir/<name>.parquet`."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    for name, table in _tables(sizes, rng):
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))

