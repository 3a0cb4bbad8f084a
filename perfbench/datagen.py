"""Deterministic input tables for the benchmark.

Writes the ten parquet tables graft's registry reads (TPC-H-shaped star
schema plus `events`, `documents` and `embeddings`) with the schemas and
value ranges of graft's test fixtures. Everything comes from one fixed
generator seed, so the same scale always yields byte-identical files; the
benchmark's `--seed` never changes the data, only the operation order and
the request stream.

Usage: python3 perfbench/datagen.py <outDir> [sf]   (default sf 0.01)
"""
import os
import sys
import datetime as dt

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GEN_SEED = 42
VOCAB = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
LANGS, LANG_P = ["en", "es", "zh", "de", "fr"], [0.44, 0.14, 0.14, 0.14, 0.14]
ADJ = "small red blue hot old large cold new".split()
NOUN = "ring widget bolt gear gizmo plate rod anvil".split()


def _ts(base, offsets_us):
    epoch = int((base - dt.datetime(1970, 1, 1)).total_seconds() * 1_000_000)
    return pa.array(epoch + offsets_us.astype(np.int64), pa.timestamp("us"))


def tables(sf=0.01):
    """name -> pyarrow.Table, deterministic for a given `sf`."""
    r = np.random.default_rng(GEN_SEED)
    n_cust, n_supp = int(150_000 * sf), max(int(10_000 * sf), 10)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc = max(int(50_000 * sf), 100)
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(r.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": r.choice(["BUILDING", "FURNITURE", "MACHINERY",
                                  "AUTOMOBILE", "HOUSEHOLD"], n_cust)})
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(r.uniform(-999.99, 9999.99, n_supp), 2)})
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(r.integers(0, 8, n_part), r.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, n_part)],
        "p_type": r.choice(["ECONOMY", "SMALL", "MEDIUM", "LARGE",
                            "STANDARD", "PROMO"], n_part),
        "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)})
    day_us = 86_400 * 1_000_000
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(r.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": r.choice(["F", "O", "P"], n_ord),
        "o_totalprice": np.round(r.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _ts(dt.datetime(1995, 1, 1),
                           r.integers(0, 2404, n_ord) * day_us),
        "o_orderpriority": r.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                     "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    qty = r.integers(1, 51, n_line).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(r.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(r.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, n_line), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * r.uniform(900.0, 2100.0, n_line), 2),
        "l_discount": r.integers(0, 11, n_line) / 100.0,
        "l_tax": r.integers(0, 9, n_line) / 100.0,
        "l_returnflag": r.choice(["A", "N", "R"], n_line),
        "l_linestatus": r.choice(["F", "O"], n_line),
        "l_shipdate": _ts(dt.datetime(1995, 1, 2),
                          r.integers(0, 2498, n_line) * day_us)})
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _ts(dt.datetime(2024, 1, 1),
                  np.sort(r.integers(0, 30 * day_us, n_ev))),
        "user_id": pa.array(r.integers(0, 150, n_ev), pa.int64()),
        "event_type": r.choice(["click", "signup", "error", "view",
                                "purchase"], n_ev),
        "value": np.round(np.clip(r.exponential(25.0, n_ev), 0.01, 490.02), 2),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)]})
    texts = []
    for i in range(n_doc):
        if i >= 20 and r.random() < 0.05:  # a near-duplicate of an earlier doc
            toks = texts[int(r.integers(0, i))].split()
            for _ in range(int(r.integers(1, 4))):
                toks[int(r.integers(0, len(toks)))] = VOCAB[int(r.integers(0, 30))]
            texts.append(" ".join(toks + ["dup"]))
        else:
            texts.append(" ".join(r.choice(VOCAB, int(r.integers(10, 100)))))
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": r.choice(LANGS, n_doc, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    vec = r.normal(size=(n_doc, 64))
    for i in range(20, n_doc):
        if r.random() < 0.05:  # a near-copy of an earlier vector
            vec[i] = vec[int(r.integers(0, i))] + r.normal(scale=0.05, size=64)
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_doc), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(r.integers(0, 10, n_doc), pa.int32())})
    return out


def write(out_dir, sf=0.01):
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables(sf).items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))


if __name__ == "__main__":
    write(sys.argv[1], float(sys.argv[2]) if len(sys.argv) > 2 else 0.01)
