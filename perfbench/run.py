#!/usr/bin/env python3
"""The repo benchmark: one workload run against the program, from outside.

    python3 perfbench/run.py --workload sql_adhoc --seed 1 --seconds 15 --trace 0

Run from the repo root. The first run builds the program and the harness
from source (one scalac run, see `build`) and generates the input tables;
later runs reuse both while the sources are unchanged. Each run starts one
JVM (`perfbench.Harness`) on `local[<nproc>]`, drives the workload's operations from one client thread,
checks every result outside the timed window, and prints the metrics as the
last line of stdout: the end-to-end set with `--trace 0`, the per-layer set
with `--trace 1`. See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen_data  # noqa: E402
import stats  # noqa: E402
import workloads  # noqa: E402

ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
WORKLOADS = ("sql_adhoc", "pipeline_snapshot")
SCALE = {"sql_adhoc": "0.1", "pipeline_snapshot": "0.01"}
EXPECTED = os.path.join(HERE, "expected", "pipeline_sf0.01.json")
# the program's own driver heap (SPARK_DRIVER_MEM in build.sbt, default 8g)
HEAP = os.environ.get("SPARK_DRIVER_MEM", "8g")
# the harness JVM's time limit: set-up and the store fit, plus the timed
# phase with room for a slow machine
JVM_FIXED_S = 100
JVM_PER_SECOND = 4
BUILD_TIMEOUT_S = 840
# A run whose before/after CPU probes differ by more than this share of the
# faster one is flagged as contended: the machine's speed changed during the
# run by more than the benchmark's bound on its timings.
PROBE_BOUND = 0.25

END_TO_END = {"setup_s": "s", "wall_s": "s", "read_p50_ms": "ms", "cpu_s": "s"}
PER_LAYER = {
    "session.build_s": "s", "session.tables_s": "s",
    "engine.run_s": "s", "engine.stmts": "count", "engine.errors": "count",
    "engine.write_p50_ms": "ms", "engine.write_p90_ms": "ms",
    "store.fit_s": "s", "store.builds": "count", "store.failed": "count",
    "store.build_sum_s": "s", "store.critical_s": "s", "store.written_mb": "MB",
    "store.write_amp": "ratio",
    "catalyst.analysis_s": "s", "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s", "catalyst.exec_plan_s": "s",
    "codegen.classes": "count", "codegen.compile_s": "s", "codegen.gen_s": "s",
    "codegen.wscg_stages": "count", "codegen.classes_per_stage": "ratio",
    "jvm.jit_s": "s", "jvm.gc_s": "s", "jvm.heap_peak_mb": "MB",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.task_s": "s", "exec.task_cpu_s": "s", "exec.sched_wait_s": "s",
    "exec.slot_util": "ratio", "exec.task_fail": "count",
    "shuffle.write_mb": "MB", "shuffle.read_mb": "MB", "shuffle.fetch_wait_s": "s",
    "shuffle.spill_mb": "MB", "scan.read_mb": "MB", "scan.rows": "count",
    "cache.storage_mb": "MB",
    "op.reads": "count", "op.read_p90_ms": "ms", "op.result_rows": "count",
    "check.fail_ratio": "ratio",
    "self.op_s": "s", "self.build_s": "s", "self.engine_s": "s",
    "self.catalyst_s": "s", "self.action_s": "s", "self.exec_s": "s",
    "trace.unaccounted_ops": "count",
}
JVM_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def _stop_child_and_exit(signum, frame):
    """On SIGTERM/SIGINT, stop the running child (the compiler or the harness JVM)
    and wait for it, so no process outlives the run."""
    if _child is not None and _child.poll() is None:
        _child.terminate()
        try:
            _child.wait(timeout=20)
        except subprocess.TimeoutExpired:
            _child.kill()
            _child.wait()
    sys.exit(128 + signum)


_child = None


def spawn(cmd, timeout, log, **kw):
    """Runs `cmd` with output to `log`; returns its exit code, or None when
    it had to be killed after `timeout` seconds."""
    global _child
    with open(log, "w") as lf:
        _child = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, **kw)
        try:
            return _child.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            _child.kill()
            _child.wait()
            return None
        finally:
            _child = None


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def nproc():
    return len(os.sched_getaffinity(0))


def commit():
    """The checked-out commit, or "none" outside a git work tree."""
    try:
        p = subprocess.run(["git", "rev-parse", "--short=12", "HEAD"], cwd=ROOT,
                           capture_output=True, text=True, timeout=10)
        return p.stdout.strip() if p.returncode == 0 else "none"
    except (OSError, subprocess.TimeoutExpired):
        return "none"


def source_digest():
    """Digest of the program's and the harness's sources and build files, to
    reuse an up-to-date build and to name the sources in the run record."""
    h = hashlib.sha1()
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, names in sorted(os.walk(base)):
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def spark_jars():
    """The jars of the Spark distribution the program builds and runs
    against (the root build's `unmanagedBase`): $SPARK_HOME/jars, or the
    distribution whose `spark-submit` is on PATH. They include the Scala
    compiler of the program's Scala version."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = sorted(glob.glob(os.path.join(home or "", "jars", "*.jar")))
    if not home or not jars:
        fail("no Spark distribution: set SPARK_HOME or put spark-submit on PATH")
    return jars


def build():
    """Builds the program and the harness; returns the runtime classpath.

    One scalac run compiles the program's sources and the harness's into
    perfbench/.work/build/classes, with the Scala compiler from Spark's jars.
    It is the compile that `sbt compile` in perfbench/ does (same sources,
    compiler and classpath), but unlike sbt it writes nothing outside the
    checkout: no launcher lock, server socket or caches in the home
    directory."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"the program's sources are not in {ROOT}; run from a full checkout")
    if shutil.which("java") is None:
        fail("java must be on PATH")
    jars = spark_jars()
    compiler = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    if len(compiler) != 3:
        fail("the Spark distribution has no Scala compiler jars")
    out = os.path.join(WORK, "build")
    classes = os.path.join(out, "classes")
    cp = os.pathsep.join([classes] + jars)
    stamp = os.path.join(out, "stamp")
    digest = f"{source_digest()} {os.path.basename(compiler[0])}"
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return cp
    shutil.rmtree(out, ignore_errors=True)
    tmp = os.path.join(out, "tmp")
    os.makedirs(classes)
    os.makedirs(tmp)
    sources = os.path.join(out, "sources.txt")
    with open(sources, "w") as f:
        for base in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src", "main", "scala")):
            for d, _, names in sorted(os.walk(base)):
                f.writelines(os.path.join(d, n) + "\n" for n in sorted(names) if n.endswith(".scala"))
    log = os.path.join(out, "scalac.log")
    code = spawn(["java", "-Xmx2g", "-Xss16m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
                  "-cp", os.pathsep.join(compiler), "scala.tools.nsc.Main",
                  "-d", classes,
                  "-classpath", os.pathsep.join(jars), "@" + sources],
                 BUILD_TIMEOUT_S, log, cwd=out)
    if code is None:
        fail(f"build timed out; see {log}")
    if code != 0:
        fail(f"build failed; see {log}")
    with open(stamp, "w") as f:
        f.write(digest)
    return cp


def run_jvm(cp, workload, data_dir, plan, trace, run_dir, seconds, oracles=None):
    """Runs the harness on a plan; returns its result record and rows."""
    plan_path = os.path.join(run_dir, "plan.tsv")
    workloads.write_plan(plan, plan_path)
    out, rows = os.path.join(run_dir, "out.json"), os.path.join(run_dir, "rows.jsonl")
    args = [f"workload={workload}", f"data={data_dir}", f"plan={plan_path}",
            f"master=local[{nproc()}]", f"trace={trace}", f"out={out}", f"rows={rows}"]
    if oracles:
        args.append(f"oracles={oracles}")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    # temporary files (Spark's block manager, the program's scratch dirs)
    # stay inside the run directory
    cmd = (["java"] + JVM_OPENS + [f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={tmp}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC", "-cp", cp, "perfbench.Harness"] + args)
    log = os.path.join(run_dir, "jvm.log")
    code = spawn(cmd, JVM_FIXED_S + JVM_PER_SECOND * seconds, log, cwd=run_dir)
    if code is None:
        fail(f"the harness timed out; see {log}")
    if code != 0 or not os.path.exists(out):
        fail(f"the harness failed (exit {code}); see {log}")
    with open(out) as f:
        res = json.load(f)
    for op, (kind, payload) in zip(res["ops"], plan):
        op["payload"] = payload
    return res, check.load_rows(rows)


def prepare(workload, seed, seconds):
    """Makes the run's inputs; returns (data_dir, run_dir, plan)."""
    sf = SCALE[workload]
    data_dir = os.path.join(WORK, "data", f"pbsf{sf}")
    gen_data.write(data_dir, float(sf))
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    if workload == "sql_adhoc":
        plan = workloads.sql_adhoc(seed, seconds, run_dir)
    else:
        plan = workloads.pipeline_snapshot(seconds)
    return data_dir, run_dir, plan


def ms(op):
    return (op["t1"] - op["t0"]) * 1e3


def end_to_end(res):
    reads = [ms(o) for o in res["ops"] if o["ok"] and o["kind"] != "write"]
    ph = res["phase"]
    return {"setup_s": res["setup"]["setup_s"], "wall_s": ph["wall_s"],
            "read_p50_ms": stats.median(reads), "cpu_s": ph["cpu_s"]}


def per_layer(res, workload, n_wrong):
    ops = res["ops"]
    ph, st, fit = res["phase"], res["setup"], res["fit"]
    ids = {str(o["id"]) for o in ops}
    ex = {}
    for op_id, counters in res.get("exec", {}).items():
        if op_id in ids:
            for k, v in counters.items():
                ex[k] = ex.get(k, 0.0) + v
    reads = [ms(o) for o in ops if o["ok"] and o["kind"] != "write"]
    writes = [ms(o) for o in ops if o["ok"] and o["kind"] == "write"]
    p90, _ = stats.percentile(reads, 90)
    result_rows = sum(o["nrows"] for o in ops)
    w90, _ = stats.percentile(writes, 90)
    stores = [s for _, s in fit["stores"]]
    ok_stores = [s for s in stores if s >= 0]
    spans = {}
    for op_id, name, parent, t0, t1 in res.get("spans", []):
        spans.setdefault(op_id, []).append((name, parent, t0, t1))
    for op_id, sp in spans.items():
        spans[op_id] = stats.attach_jobs(sp)
    selfs, unaccounted = {}, 0
    for o in ops:
        sp = spans.get(o["id"], [])
        st_op, _ = stats.self_times(sp)
        unaccounted += 0 if stats.accounted(sp, o["t1"] - o["t0"]) else 1
        for layer, v in st_op.items():
            selfs[layer] = selfs.get(layer, 0.0) + v
    engine = workload == "sql_adhoc"
    classes, stages = ph["codegen.classes"], sum(o["wscg_stages"] for o in ops)
    m = {
        "session.build_s": st["session.build_s"], "session.tables_s": st["session.tables_s"],
        "engine.run_s": sum(o["build_s"] for o in ops) if engine else 0.0,
        "engine.stmts": len(ops) if engine else 0,
        "engine.errors": sum(not o["ok"] for o in ops) if engine else 0,
        "engine.write_p50_ms": stats.median(writes), "engine.write_p90_ms": w90 or 0.0,
        "store.fit_s": fit["fit_s"] if fit["stores"] else 0.0,
        "store.builds": len(stores), "store.failed": len(stores) - len(ok_stores),
        "store.build_sum_s": sum(ok_stores), "store.critical_s": max(ok_stores, default=0.0),
        "store.written_mb": fit["written_bytes"] / 1048576.0 if stores else 0.0,
        "store.write_amp": fit["written_bytes"] / fit["input_bytes"] if stores else 0.0,
        "catalyst.analysis_s": sum(o["analysis_s"] for o in ops),
        "catalyst.optimization_s": sum(o["optimization_s"] for o in ops),
        "catalyst.planning_s": sum(o["planning_s"] for o in ops),
        "catalyst.exec_plan_s": sum(o["exec_plan_s"] for o in ops),
        "codegen.classes": classes, "codegen.compile_s": ph["codegen.compile_s"],
        "codegen.gen_s": ph["codegen.gen_s"], "codegen.wscg_stages": stages,
        "codegen.classes_per_stage": classes / stages if stages else 0.0,
        "jvm.jit_s": ph["jit_s"], "jvm.gc_s": ph["gc_s"], "jvm.heap_peak_mb": ph["heap_peak_mb"],
        "exec.slot_util": ex.get("exec.task_s", 0.0) / (ph["wall_s"] * nproc()),
        "cache.storage_mb": ph["cache.storage_mb"],
        "op.reads": len(reads), "op.read_p90_ms": p90 or 0.0, "op.result_rows": result_rows,
        "check.fail_ratio": (sum(not o["ok"] for o in ops) + n_wrong) / max(1, len(ops)),
        "trace.unaccounted_ops": unaccounted,
    }
    for k in ("exec.jobs", "exec.stages", "exec.tasks", "exec.task_s", "exec.task_cpu_s",
              "exec.sched_wait_s", "exec.task_fail", "shuffle.write_mb", "shuffle.read_mb",
              "shuffle.fetch_wait_s", "shuffle.spill_mb", "scan.read_mb", "scan.rows"):
        m[k] = ex.get(k, 0.0)
    for layer in ("op", "build", "engine", "catalyst", "action", "exec"):
        m[f"self.{layer}_s"] = selfs.get(layer, 0.0)
    return m


def verify(workload, res, rows, data_dir):
    """Returns the ids of timed operations whose results are wrong."""
    ops = res["ops"]
    if workload == "sql_adhoc":
        return check.check_adhoc(ops, rows, data_dir)
    with open(EXPECTED) as f:
        expected = json.load(f)["keys"]
    return check.check_fingerprints(ops, rows, expected)


def record_expected(cp):
    """Writes the expected fingerprints of every pipeline key of the lap
    list, cross-checked against the program's DuckDB oracles."""
    data_dir, run_dir, _ = prepare("pipeline_snapshot", 0, 0)
    plan = [("query", k) for k, _ in workloads.PIPELINE_KEYS]
    oracles_path = os.path.join(run_dir, "oracles.json")
    cost = sum(c for _, c in workloads.PIPELINE_KEYS)
    res, rows = run_jvm(cp, "pipeline_snapshot", data_dir, plan, 0, run_dir, cost, oracles_path)
    with open(oracles_path) as f:
        oracles = json.load(f)
    agree = check.check_oracles(res["ops"], rows, oracles, data_dir)
    keys = {}
    for op in res["ops"]:
        if not op["ok"]:
            fail(f"{op['payload']} failed: {op['err']}")
        if op["payload"] in agree and not agree[op["payload"]]:
            fail(f"{op['payload']} disagrees with its DuckDB oracle")
        n, h = check.fingerprint(check.canon_rows(rows[op["id"]]["rows"]))
        keys[op["payload"]] = {"rows": n, "hash": h, "exact": op["payload"] in agree}
    os.makedirs(os.path.dirname(EXPECTED), exist_ok=True)
    with open(EXPECTED, "w") as f:
        json.dump({"sf": SCALE["pipeline_snapshot"], "keys": keys}, f, indent=1, sort_keys=True)
        f.write("\n")
    print(json.dumps({"recorded": keys}))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-expected", action="store_true",
                    help="re-record expected/pipeline_sf0.01.json (cross-checked with DuckDB)")
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, _stop_child_and_exit)
    signal.signal(signal.SIGINT, _stop_child_and_exit)
    cp = build()
    if a.record_expected:
        return record_expected(cp)
    if a.workload is None:
        ap.error("--workload is required")
    data_dir, run_dir, plan = prepare(a.workload, a.seed, a.seconds)
    res, rows = run_jvm(cp, a.workload, data_dir, plan, a.trace, run_dir, a.seconds)
    wrong = verify(a.workload, res, rows, data_dir)
    ops = res["ops"]
    failed = sum(not o["ok"] for o in ops) + len(wrong)
    ph = res["phase"]
    probes = (ph["probe_before_s"], ph["probe_after_s"])
    record = dict(res["record"], seed=a.seed, seconds=a.seconds, trace=a.trace,
                  nproc=nproc(), commit=commit(), source_digest=source_digest()[:12],
                  wall_s=ph["wall_s"], fit_s=res["fit"]["fit_s"], probes_s=probes,
                  contended=(max(probes) - min(probes)) / min(probes) > PROBE_BOUND,
                  errors=[o["err"] for o in ops if not o["ok"]][:5],
                  wrong=[o["payload"][:120] for o in ops if o["id"] in wrong][:5])
    if a.trace:
        values, units = per_layer(res, a.workload, len(wrong)), PER_LAYER
    else:
        values, units = end_to_end(res), END_TO_END
    result = {"correct": failed == 0, "attempted": len(ops), "failed": failed,
              "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()}}
    print(json.dumps({"record": record}))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
