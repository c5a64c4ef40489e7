"""Correctness checks of one benchmark run, made outside the timed window.

- sql_adhoc: the script is replayed in DuckDB over the same parquet files,
  in order, writes included; every read's rows must equal DuckDB's. The
  `graft_topk` calls are checked against an exact cosine top-k in numpy.
- pipeline_snapshot: every query's fingerprint (row count plus an
  order-independent hash of its rows) must equal the expected file's. Keys
  without a DuckDB oracle (approximate ones) are checked on row count only.

Values are compared in a canonical form: numbers print with 9 significant
digits (integral values as integers), dates and timestamps as ISO strings,
and rows are compared as multisets.
"""
import datetime
import decimal
import hashlib
import json
import math

import duckdb
import numpy as np
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, int):
        return str(v)
    if isinstance(v, (float, decimal.Decimal, np.floating)):
        f = float(v)
        if math.isnan(f):
            return "nan"
        if f.is_integer() and abs(f) < 1e15:
            return str(int(f))
        return f"{f:.9g}"
    if isinstance(v, np.integer):
        return str(int(v))
    if isinstance(v, datetime.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, dict):
        return tuple(sorted((canon(k), canon(x)) for k, x in v.items()))
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(canon(x) for x in v)
    return str(v)


def canon_rows(rows, cols=None):
    """Rows as a sorted list of canonical tuples; with `cols`, columns are
    first put in name order so engines may differ in column order."""
    order = sorted(range(len(cols)), key=lambda i: cols[i]) if cols else None
    out = []
    for r in rows:
        r = [r[i] for i in order] if order else list(r)
        out.append(tuple(canon(x) for x in r))
    return sorted(out, key=repr)


def fingerprint(rows):
    """(row count, order-independent hash) of canonical rows."""
    h = 0
    for r in rows:
        h = (h + int.from_bytes(hashlib.sha1(repr(r).encode()).digest()[:8], "little")) % (1 << 64)
    return len(rows), f"{h:016x}"


def load_rows(path):
    with open(path) as f:
        return {d["id"]: d for d in map(json.loads, f)}


def duck(data_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    return con


def topk_expected(sql, k, qmax):
    """Exact cosine top-k (self excluded) of the generated vector file."""
    path = sql.split("'")[1]
    emb = np.stack(pd.read_parquet(path)["embedding"].values).astype(np.float64)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    sims = emb @ emb.T
    np.fill_diagonal(sims, -np.inf)
    rows = []
    for q in range(qmax):
        for rank, j in enumerate(np.argsort(-sims[q], kind="stable")[:k], start=1):
            rows.append((q, int(j), rank))
    return rows


def check_adhoc(ops, rows, data_dir):
    """Replays the script in DuckDB; returns the ids of wrong operations."""
    con = duck(data_dir)
    wrong = []
    for op in ops:
        sql, kind, ok = op["payload"], op["kind"], op["ok"]
        if kind == "write":
            con.execute(sql)
            continue
        if not ok:
            continue  # already counted as failed
        got = canon_rows(rows[op["id"]]["rows"])
        if kind == "tvf":
            k = int(sql.split("k => ")[1].split(")")[0])
            qmax = int(sql.split("query_id < ")[1].split()[0])
            want = canon_rows(topk_expected(sql, k, qmax))
        else:
            want = canon_rows(con.execute(sql).fetchall())
        if got != want:
            wrong.append(op["id"])
    return wrong


def check_fingerprints(ops, rows, expected):
    """Compares each query's fingerprint with the expected file's entry."""
    wrong = []
    for op in ops:
        if not op["ok"]:
            continue
        want = expected.get(op["payload"])
        n, h = fingerprint(canon_rows(rows[op["id"]]["rows"]))
        if want is None or n != want["rows"] or (want["exact"] and h != want["hash"]):
            wrong.append(op["id"])
    return wrong


def check_oracles(ops, rows, oracles, data_dir):
    """One-off cross-check of query results against their DuckDB oracles:
    returns {key: True/False} for the keys that have one."""
    con = duck(data_dir)
    out = {}
    for op in ops:
        sql = oracles.get(op["payload"])
        if sql is None or not op["ok"]:
            continue
        cur = con.execute(sql)
        cols = [d[0] for d in cur.description]
        want = canon_rows(cur.fetchall(), cols)
        got = canon_rows(rows[op["id"]]["rows"], rows[op["id"]]["cols"])
        out[op["payload"]] = got == want
    return out
