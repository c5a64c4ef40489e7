"""Operation plans of the benchmark's workloads, made from a seed.

A plan is a list of `(kind, payload)` operations; the harness runs and
times them in order on one thread.

- `sql_adhoc` is a script of statements for `GraftEngine.run`. Reads come
  from the templates below with literals drawn from the seed, so every
  statement is new text. Writes (CREATE TABLE, INSERT ... VALUES,
  INSERT ... SELECT, CTAS, COPY FROM a generated CSV) are followed by
  reads of the written tables, and small INSERT ... VALUES statements into
  one long-lived table, `log`, run between the reads (see LOG_INSERTS);
  one `graft_topk` table-function call per round runs over a small
  generated embedding file. Kinds: `read`, `write`, `tvf`.
- `pipeline_snapshot` is one cold lap over a fixed subset of the pipeline
  keys (see PIPELINE_KEYS), in a fixed order. Kind: `query`.

The statements stay inside the dialect both the program and DuckDB accept,
so the checker can replay the script in DuckDB and compare every read:
double sums go through DECIMAL, date arithmetic is cast back to DATE and
printed as a string, and no query returns raw timestamps.
"""
import csv
import os
import random

import numpy as np
import pandas as pd

# Pipeline keys of the cold lap, in priority order, with the cold seconds
# each took in one lap on a 4-core machine at sf0.01 (after the store fit).
# The lap takes keys from the top until their cost reaches --seconds. The
# ROADMAP names x22, x24-x27, u6, g13 and d16 as the keys perf work must
# move; the list leads with one key of each family among them, slowest
# first, so a short lap still spans the audit (x), language-model (u),
# near-duplicate (d) and graph (g) families.
PIPELINE_KEYS = [
    ("x26_compaction_audit", 9.0),     # audit family, slowest named key
    ("x25_takedown_audit_full", 5.6),  # audit family, the full takedown audit
    ("u6_unigram_lm", 4.0),            # language-model family
    ("d16_winnow_pairs", 1.8),         # near-duplicate family
    ("g13_louvain_levels", 8.3),       # graph family, iterative plan
    ("x22_takedown_audit", 4.6),
    ("x27_governance_loop", 5.3),
    ("x24_takedown_audit_ext", 1.8),
]

# Small inserts into `log` per sql_adhoc round. The engine keeps a table's
# inserts as a growing union lineage and collapses it with an eager
# localCheckpoint on every 32nd insert into the same table
# (GraftEngine.insertInto); `log` lives across rounds, so each round
# crosses exactly one collapse, with a read of `log` half way (a 16-deep
# lineage) and reads after the collapse.
LOG_INSERTS = 32

# Seconds one sql_adhoc round (62 statements) takes on a 4-core machine at
# sf0.1; the script has one round per ROUND_SECONDS of --seconds.
ROUND_SECONDS = 20

STATUS = ["F", "O", "P"]
PRIORITY = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]
TOPK_VECTORS = 300
TOPK_DIM = 16


def _date(r):
    return f"{r.randint(1995, 2000)}-{r.randint(1, 12):02d}-{r.randint(1, 28):02d}"


def _money(expr):
    return f"cast(sum(cast({expr} as decimal(18,2))) as double)"


READS = [
    lambda r: (f"select l_orderkey, l_linenumber, l_quantity, l_partkey from lineitem "
               f"where l_suppkey = {r.randint(0, 999)} and l_quantity > {r.randint(20, 45)} "
               f"and l_discount = {r.randint(0, 10) / 100}"),
    lambda r: (f"select n.n_name, count(*) as cnt, {_money('o.o_totalprice')} as total "
               f"from orders o join customer c on o.o_custkey = c.c_custkey "
               f"join nation n on c.c_nationkey = n.n_nationkey "
               f"where o.o_orderdate >= date '{_date(r)}' "
               f"and o.o_orderdate < date '{_date(r)}' + interval {r.randint(20, 400)} day "
               f"group by n.n_name"),
    lambda r: (lambda a: f"select c.c_custkey, count(o.o_orderkey) as n from customer c "
               f"left join orders o on c.c_custkey = o.o_custkey "
               f"and o.o_orderstatus = '{r.choice(STATUS)}' "
               f"where c.c_custkey between {a} and {a + 40} group by c.c_custkey")(
                   r.randint(0, 14000)),
    lambda r: (lambda a: f"select a.k as ka, b.k as kb, a.n as na, b.n as nb from "
               f"(select o_custkey as k, count(*) as n from orders where o_custkey between {a} and {a + 30} "
               f"and o_orderpriority = '{r.choice(PRIORITY)}' group by o_custkey) a "
               f"full outer join (select c_custkey as k, c_nationkey as n from customer "
               f"where c_custkey between {a + 10} and {a + 45}) b on a.k = b.k")(
                   r.randint(0, 14000)),
    lambda r: (f"select s.s_suppkey, count(*) as n from supplier s join part p "
               f"on p.p_size between s.s_nationkey and s.s_nationkey + {r.randint(1, 10)} "
               f"where s.s_suppkey < {r.randint(5, 30)} group by s.s_suppkey"),
    lambda r: (f"select l_returnflag, l_linestatus, count(*) as n, sum(l_quantity) as q, "
               f"{_money('l_extendedprice')} as price from lineitem "
               f"where l_shipdate <= date '{_date(r)}' group by l_returnflag, l_linestatus"),
    lambda r: (f"select o_orderpriority, count(distinct o_custkey) as n from orders "
               f"where o_totalprice > {r.randint(1000, 490000)} group by o_orderpriority"),
    lambda r: (f"select o_orderkey, o_totalprice from orders where o_custkey = {r.randint(0, 14999)} "
               f"order by o_totalprice desc, o_orderkey limit {r.randint(2, 6)} offset {r.randint(0, 2)}"),
    lambda r: (f"select count(*) as n from orders where o_totalprice > "
               f"(select avg(o_totalprice) from orders where o_custkey = {r.randint(0, 14999)})"),
    lambda r: (lambda a: f"select o_orderkey, cast(cast(o_orderdate + interval {r.randint(1, 300)} day "
               f"as date) as string) as d from orders where o_orderkey between {a} and {a + 15}")(
                   r.randint(0, 149000)),
    lambda r: (f"select v.k, v.w, count(*) as n from (values (0, '{r.choice('abc')}'), "
               f"({r.randint(1, 4)}, '{r.choice('xyz')}')) as v(k, w) "
               f"join nation n on n.n_regionkey = v.k group by v.k, v.w"),
    lambda r: (f"select l_suppkey, count(*) as n from lineitem where l_partkey < {r.randint(50, 400)} "
               f"group by l_suppkey having count(*) > {r.randint(1, 3)}"),
    lambda r: (f"select count(*) as n from customer where c_custkey in "
               f"(select o_custkey from orders where o_totalprice > {r.randint(450000, 499000)})"),
    lambda r: (f"select case when c_acctbal < {r.randint(0, 9000)} then 'low' else 'high' end as b, "
               f"count(*) as n from customer where c_mktsegment = 'BUILDING' group by 1"),
    lambda r: (f"select upper(substring(p_name, 1, {r.randint(2, 8)})) as s, count(*) as n "
               f"from part where p_brand = 'Brand#{r.randint(1, 25)}' group by 1"),
    lambda r: (lambda a: f"select o_orderstatus as s from orders where o_orderkey < {a} "
               f"union select l_linestatus from lineitem where l_orderkey < {a}")(r.randint(5, 500)),
    lambda r: (f"select user_id, count(*) as n, max(value) as mx from events "
               f"where event_type = '{r.choice(EVENT_TYPES)}' and user_id < {r.randint(5, 60)} "
               f"group by user_id"),
]


def _write_block(r, n, csv_path):
    """One write sequence on fresh tables w<n> and c<n>, with the reads of
    the written tables that follow it."""
    w, c = f"w{n}", f"c{n}"
    vals = ", ".join(f"({r.randint(0, 10**6)}, {r.randint(0, 99999) / 100}, '{r.choice('abcde')}')"
                     for _ in range(r.randint(2, 6)))
    ops = [
        ("write", f"create table {w}(k bigint, v double, s varchar)"),
        ("write", f"insert into {w} values {vals}"),
        ("write", f"insert into {w} select l_orderkey, l_extendedprice, l_returnflag "
                  f"from lineitem where l_orderkey = {r.randint(0, 149999)}"),
        ("write", f"copy {w} from '{csv_path}' (header)"),
        ("read", f"select count(*) as n, sum(k) as sk, {_money('v')} as sv from {w}"),
        ("read", f"select s, count(*) as n from {w} group by s"),
        ("write", f"create table {c} as select o_orderkey, o_custkey, o_totalprice from orders "
                  f"where o_custkey = {r.randint(0, 14999)}"),
        ("write", f"insert into {c} select o_orderkey, o_custkey, o_totalprice from orders "
                  f"where o_custkey = {r.randint(0, 14999)}"),
        ("read", f"select count(*) as n, {_money('o_totalprice')} as t from {c}"),
    ]
    return ops


def _log_ops(r, first):
    """The round's statements on `log`, in order: LOG_INSERTS small
    inserts, with a read after the first half and two after the last."""
    def insert():
        vals = ", ".join(f"({r.randint(0, 10**6)}, {r.randint(0, 99999) / 100}, '{r.choice('abcde')}')"
                         for _ in range(r.randint(1, 3)))
        return ("write", f"insert into log values {vals}")
    half = LOG_INSERTS // 2
    ops = [("write", "create table log(k bigint, v double, s varchar)")] if first else []
    ops += [insert() for _ in range(half)]
    ops.append(("read", f"select count(*) as n, sum(k) as sk, {_money('v')} as sv from log"))
    ops += [insert() for _ in range(LOG_INSERTS - half)]
    ops.append(("read", f"select count(*) as n, sum(k) as sk, {_money('v')} as sv from log"))
    ops.append(("read", f"select s, count(*) as n, max(k) as mk from log "
                        f"where v > {r.randint(0, 500)} group by s"))
    return ops


def _interleave(a, b):
    """Spreads list `b` evenly through list `a`, keeping each list's order."""
    keyed = [((i + 1) / (len(a) + 1), 0, op) for i, op in enumerate(a)]
    keyed += [((j + 1) / (len(b) + 1), 1, op) for j, op in enumerate(b)]
    return [op for _, _, op in sorted(keyed, key=lambda x: x[:2])]


def write_csv(path, r):
    with open(path, "w", newline="") as f:
        out = csv.writer(f)
        out.writerow(["k", "v", "s"])
        for _ in range(r.randint(5, 40)):
            out.writerow([r.randint(0, 10**6), r.randint(0, 99999) / 100, r.choice("abcde")])


def write_topk_vectors(path, seed):
    rng = np.random.default_rng(seed)
    vecs = rng.normal(size=(TOPK_VECTORS, TOPK_DIM)).astype(np.float32)
    pd.DataFrame({"vec_id": np.arange(TOPK_VECTORS, dtype=np.int64),
                  "embedding": list(vecs),
                  "label": np.zeros(TOPK_VECTORS, dtype=np.int32)}).to_parquet(path, index=False)


def sql_adhoc(seed, seconds, work_dir):
    """The seeded script: returns the plan and writes the CSV and vector
    inputs it names into `work_dir`.

    The script is whole rounds, one per ROUND_SECONDS of `seconds` (at least
    one). A round is a write block, every read template once and one
    `graft_topk` call, with the round's `log` statements spread evenly
    between them. Only the literals change with the seed; the order is
    fixed, because a statement's cost depends on its position (the first
    statements of a run also pay the JVM's compile of the engine's and
    Spark's own code), so runs on different seeds differ only in what the
    seed draws.
    """
    r = random.Random(seed)
    emb = os.path.abspath(os.path.join(work_dir, "topk_vectors.parquet"))
    write_topk_vectors(emb, seed)
    plan = []
    for n in range(max(1, int(seconds // ROUND_SECONDS))):
        csv_path = os.path.abspath(os.path.join(work_dir, f"copy_{n}.csv"))
        write_csv(csv_path, r)
        ops = _write_block(r, n, csv_path)
        ops += [("read", t(r)) for t in READS]
        ops.append(("tvf", f"select query_id, neighbor_id, rank from graft_topk('{emb}', '{emb}', "
                           f"k => {r.randint(2, 5)}) where query_id < {r.randint(3, 20)} "
                           f"order by query_id, rank"))
        plan += _interleave(ops, _log_ops(r, n == 0))
    return plan


def pipeline_snapshot(seconds):
    """The cold lap: keys from the top of PIPELINE_KEYS until their cost
    reaches `seconds`, in list order.

    The order is fixed, not drawn from the seed: in a cold lap a key runs
    faster after keys that share its code (u6 took 5.5 s first and 4.0 s
    after x26 and x25), and a seed-permuted order moved the lap's wall time
    by up to 8 % between seeds, more than the benchmark can resolve.
    """
    keys, cost = [], 0.0
    for k, c in PIPELINE_KEYS:
        if cost >= seconds:
            break
        keys.append(k)
        cost += c
    return [("query", k) for k in keys]


def write_plan(plan, path):
    with open(path, "w") as f:
        for op in plan:
            assert all("\t" not in x and "\n" not in x for x in op)
            f.write("\t".join(op) + "\n")
