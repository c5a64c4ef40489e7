"""Deterministic generator for the benchmark's input tables.

Writes the ten parquet tables the program reads (`Tables.all`: the
TPC-H-ish star schema plus `events`, `documents` and `embeddings`) at a
given scale factor, with the schemas, key ranges and value shapes of the
repo's test data:

- keys are dense from 0, foreign keys stay inside their dimension;
- timestamps are naive microsecond timestamps, as pandas writes them;
  order and ship dates are uniform and independent of each other;
- documents draw 10-99 tokens from a 30-word vocabulary; exactly 5 % of
  them are another document's text plus the token `dup` (the
  near-duplicate structure the dedup stores key on);
- embeddings are 64-dimensional unit vectors with labels 0-9.

perfbench/README.md ("Input data") compares these tables with the program's
own sf0.01 and sf0.1 test tables, figure by figure.

The same scale factor always gives byte-identical tables: the generator
seeds its own generator with a fixed data seed. The workload seed of a run
does not change the tables; it changes the statements and the order in
which the workloads issue their operations.

Usage: python3 perfbench/gen_data.py <out_dir> <sf>
"""
import hashlib
import os
import sys

import numpy as np
import pandas as pd

DATA_SEED = 42
VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
LANGS = np.array(["en", "zh", "es", "fr", "de"])
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]


def _ts(base, seconds):
    return (pd.Timestamp(base) + pd.to_timedelta(seconds, unit="s")).astype("datetime64[us]")


def tables(sf):
    rng = np.random.default_rng(DATA_SEED)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_line = max(6000, int(6_000_000 * sf))
    n_ev = max(1000, int(1_000_000 * sf))
    n_users = max(15, int(15_000 * sf))
    n_docs = max(50, int(50_000 * sf))
    n_vec = max(500, int(20_000 * sf))
    out = {}
    out["region"] = pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32)})
    out["customer"] = pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n_cust)})
    out["supplier"] = pd.DataFrame({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    adj = ["small", "red", "blue", "hot", "cold", "green", "shiny", "old"]
    noun = ["ring", "widget", "bolt", "gear", "plate", "nut", "pipe", "valve"]
    out["part"] = pd.DataFrame({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "SMALL", "MEDIUM", "LARGE",
                              "PROMO", "STANDARD"], n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)})
    odays = rng.integers(0, 2405, n_ord)  # 1995-01-01 .. 2001-08-01
    out["orders"] = pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _ts("1995-01-01", odays * 86400),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    out["lineitem"] = pd.DataFrame({
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _ts("1995-01-02", rng.integers(0, 2499, n_line) * 86400)})
    ev_sec = np.sort(rng.uniform(0, 30 * 86400, n_ev))
    out["events"] = pd.DataFrame({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts("2024-01-01", np.round(ev_sec, 6)),
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": rng.choice(["signup", "purchase", "view", "click", "error"], n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    lens = rng.integers(10, 100, n_docs)
    texts = [" ".join(rng.choice(VOCAB, n)) for n in lens]
    originals = list(texts)
    for i in rng.choice(n_docs, n_docs // 20, replace=False):
        src = int(rng.integers(0, n_docs - 1))
        texts[i] = originals[src + (src >= i)] + " dup"
    out["documents"] = pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    vecs = rng.normal(size=(n_vec, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pd.DataFrame({
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": list(vecs),
        "label": rng.integers(0, 10, n_vec).astype(np.int32)})
    return out


def write(out_dir, sf):
    """Write every table to `out_dir` unless a set completed by this same
    generator is there."""
    stamp = os.path.join(out_dir, "_COMPLETE")
    with open(__file__, "rb") as f:
        want = f"sf={sf} seed={DATA_SEED} generator={hashlib.sha1(f.read()).hexdigest()}\n"
    if os.path.exists(stamp) and open(stamp).read() == want:
        return
    os.makedirs(out_dir, exist_ok=True)
    for name, df in tables(sf).items():
        df.to_parquet(os.path.join(out_dir, f"{name}.parquet"), index=False)
    with open(stamp, "w") as f:
        f.write(want)


if __name__ == "__main__":
    write(sys.argv[1], float(sys.argv[2]))
