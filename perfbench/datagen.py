"""Seeded generator for the benchmark's source tables.

Writes the ten tables the engine reads (`region nation customer supplier
part orders lineitem events documents embeddings`), one parquet file
each, in the same layout, schema and value distributions as the
project's TPC-H-shaped test data, so every declared query and pipeline
runs on them unchanged. The same (seed, sf) always gives byte-identical
files; a different seed gives different rows with the same sizes and
distributions, so timings stay comparable across seeds.

Usage: python3 perfbench/datagen.py <out_dir> <seed> <sf>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ADJ = ["small", "red", "blue", "hot", "old", "large", "cold", "new"]
NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "rod"]
TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.42, 0.145, 0.145, 0.145, 0.145]
VOCAB = ("row the query stream fast spark line small customer group value hash "
         "batch sort data big filter key agg scan slow table part a merge window "
         "order column join vector").split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
EMBED_DIM = 64
SEGMENTS_K = 4
DUP_SHARE = 0.05  # near-duplicate documents: a copy of an earlier one + " dup"


def _days(lo, hi):
    return np.datetime64(lo, "D"), (np.datetime64(hi, "D") - np.datetime64(lo, "D")).astype(int)


def _dates(rng, n, lo, hi):
    base, span = _days(lo, hi)
    return (base + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n, p=None):
    return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)]


def tables(seed, sf):
    rng = np.random.default_rng(seed)
    n_cust = max(1, int(150_000 * sf))
    n_supp = max(1, int(10_000 * sf))
    n_part = max(1, int(200_000 * sf))
    n_ord = max(1, int(1_500_000 * sf))
    n_line = max(1, int(6_000_000 * sf))
    n_event = max(1, int(1_000_000 * sf))
    n_user = max(1, int(15_000 * sf))
    n_doc = max(500, int(50_000 * sf))
    n_vec = max(500, int(20_000 * sf))

    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    out["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust)})
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    pk = np.arange(n_part, dtype=np.int64)
    out["part"] = pa.table({
        "p_partkey": pk,
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, len(ADJ), n_part), rng.integers(0, len(NOUN), n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": _pick(rng, TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1)})
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": _pick(rng, ["P", "O", "F"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _dates(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord)})
    # each part sells in one of SEGMENTS_K product-mix segments (bulk
    # cheap lines ... few premium lines), so per-product sales features
    # form clusters and k-means converges in a similar number of rounds
    # whatever the seed
    segment = rng.integers(0, SEGMENTS_K, n_part)
    l_part = rng.integers(0, n_part, n_line).astype(np.int64)
    seg = segment[l_part]
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": l_part,
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": np.clip(50 - 13 * seg + rng.integers(-4, 5, n_line), 1, 50).astype(np.float64),
        "l_extendedprice": np.round(np.clip(5000.0 + 30000.0 * seg + rng.uniform(-4000, 4000, n_line),
                                            900.0, 105000.0), 2),
        "l_discount": np.minimum(10, 3 * seg + rng.integers(0, 3, n_line)) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["O", "F"], n_line),
        "l_shipdate": _dates(rng, n_line, "1995-01-02", "2001-11-04")})
    start = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 86400 * 1_000_000
    out["events"] = pa.table({
        "event_id": np.arange(n_event, dtype=np.int64),
        "ts": start + np.sort(rng.integers(0, span_us, n_event)).astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_user, n_event).astype(np.int64),
        "event_type": _pick(rng, EVENT_TYPES, n_event),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_event), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_event)]})
    texts = []
    for i in range(n_doc):
        if i > 10 and rng.random() < DUP_SHARE:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(_pick(rng, VOCAB, int(rng.integers(10, 100)))))
    out["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": _pick(rng, LANGS, n_doc, LANG_P),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    centers = rng.normal(size=(10, EMBED_DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.integers(0, 10, n_vec)
    vecs = rng.normal(size=(n_vec, EMBED_DIM)) + 1.13 * centers[labels]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels.astype(np.int32)})
    return out


def write(out_dir, seed, sf):
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables(seed, sf).items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))


if __name__ == "__main__":
    write(sys.argv[1], int(sys.argv[2]), float(sys.argv[3]))
