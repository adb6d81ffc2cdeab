#!/usr/bin/env python3
"""Seeded generator for the benchmark's input tables.

Writes the ten parquet tables graft's queries read (a TPC-H-like star
schema plus `events`, `documents` and `embeddings`) with the same column
names, types and value domains as the project's test data:

  python3 perfbench/gendata.py --sf 0.1 --seed 7 --out .bench_build/data/sf0.1-7

The same (sf, seed) always gives byte-identical tables. Every numeric
value that queries fold exactly carries at most two decimals, which the
decimal-exact operators and the DuckDB oracle both rely on.
"""
import argparse
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("a the row column table value key group join filter scan sort "
         "merge hash agg window stream batch query data spark vector line "
         "part order customer big small fast slow").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.15, 0.15, 0.145, 0.145]
DAY_US = 86_400_000_000


def epoch_us(y, m, d):
    return int(np.datetime64(f"{y:04d}-{m:02d}-{d:02d}", "us").astype(np.int64))


def cents(rng, lo, hi, n):
    """Uniform two-decimal doubles in [lo, hi]."""
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def tables(sf, seed):
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = max(15, int(15_000 * sf))
    n_docs, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))

    yield "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}
    yield "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    yield "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
        "c_acctbal": cents(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)]}
    yield "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
        "s_acctbal": cents(rng, -999.99, 9999.99, n_supp)}
    adj = np.array("blue cold hot large new old red small".split())
    noun = np.array("anvil bolt gear gizmo plate ring rod widget".split())
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    pk = np.arange(n_part, dtype=np.int64)
    yield "part", {
        "p_partkey": pk,
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, n_part)], " "),
                              noun[rng.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part, dtype=np.int32),
        "p_retailprice": (90_000 + (pk % 1000) * 10) / 100.0}
    d0, d1 = epoch_us(1995, 1, 1), epoch_us(2001, 8, 1)
    yield "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": cents(rng, 1000, 500_000, n_ord),
        "o_orderdate": ts(d0 + rng.integers(0, (d1 - d0) // DAY_US + 1, n_ord) * DAY_US),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                     "5-LOW"])[rng.integers(0, 5, n_ord)]}
    s0, s1 = epoch_us(1995, 1, 2), epoch_us(2001, 11, 4)
    yield "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": rng.integers(1, 8, n_li, dtype=np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": cents(rng, 900, 105_000, n_li),
        "l_discount": np.round(rng.uniform(0, 10, n_li)) / 100.0,
        "l_tax": np.round(rng.uniform(0, 8, n_li)) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": ts(s0 + rng.integers(0, (s1 - s0) // DAY_US + 1, n_li) * DAY_US)}
    e0, span = epoch_us(2024, 1, 1), 30 * DAY_US
    # exponential gaps (a Poisson arrival process) rescaled onto the span
    gaps = np.cumsum(rng.exponential(1.0, n_ev))
    ev_us = e0 + np.floor(gaps / gaps[-1] * span * n_ev / (n_ev + 1)).astype(np.int64)
    yield "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": ts(ev_us),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": np.array(["click", "error", "purchase", "signup", "view"])[
            rng.integers(0, 5, n_ev)],
        "value": np.round(rng.gamma(1.5, 35.0, n_ev) * 100) / 100.0,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]}
    texts = [" ".join(rng.choice(WORDS, rng.integers(10, 101))) for _ in range(n_docs)]
    # 5% near-duplicates (a copy of another document plus one token) and a
    # few exact copies, so the dedup families find real candidate pairs.
    for i in rng.choice(n_docs, n_docs // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n_docs))] + " dup"
    for i in rng.choice(n_docs, max(1, n_docs // 600), replace=False):
        texts[i] = texts[int(rng.integers(0, n_docs))]
    yield "documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_docs, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}
    x = rng.standard_normal((n_emb, 64))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    yield "embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(x), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb, dtype=np.int32)}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--sf", type=float, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    os.makedirs(a.out, exist_ok=True)
    for name, cols in tables(a.sf, a.seed):
        tmp = os.path.join(a.out, f".{name}.parquet.tmp")
        pq.write_table(pa.table(cols), tmp)
        os.replace(tmp, os.path.join(a.out, f"{name}.parquet"))


if __name__ == "__main__":
    main()
