#!/usr/bin/env python3
"""Runs the benchmark several times per workload and summarizes the spread.

    python3 perfbench/baseline.py --runs 10 --first-seed 100

For each workload of BENCHMARK.json: `--runs` untraced runs on consecutive
seeds, then TRACED_RUNS traced runs on the first of those seeds. Writes
`perfbench/baseline/baseline.json` and `perfbench/baseline/BASELINE.md` with, per end-to-end metric,
the median, the quartiles (`statistics.quantiles(values, n=4)`) and the
spread (quartile distance as a share of the median); the per-layer table
(medians of the traced runs); and the tracing overhead (median traced
minus median untraced timed wall). Runs flagged as contended by their CPU
probes are listed and left out of the summary.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "baseline")
TRACED_RUNS = 3


def one(workload, seed, seconds, trace):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=ROOT, capture_output=True, text=True, timeout=900)
    if p.returncode != 0:
        raise SystemExit(f"{workload} seed {seed} failed:\n{p.stderr[-2000:]}")
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-2])["record"], json.loads(lines[-1])


def summarize(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else 0.0,
            "values": values}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=100)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = bench["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    report = {"run_seconds": seconds, "workloads": {}}
    for w in [w["name"] for w in bench["workloads"]]:
        runs, contended = [], []
        for seed in range(a.first_seed, a.first_seed + a.runs):
            rec, res = one(w, seed, seconds, 0)
            if not res["correct"]:
                raise SystemExit(f"{w} seed {seed}: wrong results {rec['wrong']} {rec['errors']}")
            (contended if rec["contended"] else runs).append((seed, rec, res))
            print(w, seed, {k: round(v["value"], 3) for k, v in res["metrics"].items()},
                  "contended" if rec["contended"] else "", flush=True)
        traced = [one(w, seed, seconds, 1) for seed in range(a.first_seed, a.first_seed + TRACED_RUNS)]
        trec = traced[0][0]
        e2e = {m: summarize([r["metrics"][m]["value"] for _, _, r in runs]) for m in bounds}
        wall_traced = statistics.median([rec["wall_s"] for rec, _ in traced])
        wall_plain = statistics.median([rec["wall_s"] for _, rec, _ in runs])
        report["workloads"][w] = {
            "seeds": [s for s, _, _ in runs], "contended_seeds": [s for s, _, _ in contended],
            "end_to_end": e2e,
            "fit_s": summarize([rec["fit_s"] for _, rec, _ in runs]),
            "traced_seeds": [rec["seed"] for rec, _ in traced],
            "traced": {k: statistics.median([res["metrics"][k]["value"] for _, res in traced])
                       for k in traced[0][1]["metrics"]},
            "trace_overhead_s": wall_traced - wall_plain,
            "trace_overhead_share": wall_traced / wall_plain - 1,
            "record": dict({k: trec[k] for k in ("master", "width", "jvm", "spark", "nproc",
                                                 "commit", "source_digest")},
                           data=os.path.basename(trec["data"])),
        }
    os.makedirs(OUT, exist_ok=True)
    with open(os.path.join(OUT, "baseline.json"), "w") as f:
        json.dump(report, f, indent=1)
        f.write("\n")
    with open(os.path.join(OUT, "BASELINE.md"), "w") as f:
        f.write(markdown(report, bounds, bench))


def markdown(report, bounds, bench):
    units = {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}
    out = ["# Benchmark baseline", "",
           f"Runs of `python3 perfbench/run.py` with `--seconds {report['run_seconds']}`; "
           "written by `perfbench/baseline.py`.", ""]
    for w, r in report["workloads"].items():
        rec = r["record"]
        out += [f"## {w}", "",
                f"{len(r['seeds'])} untraced runs, seeds {r['seeds'][0]}-{r['seeds'][-1]}; "
                f"contended runs left out: {r['contended_seeds'] or 'none'}. "
                f"Master `{rec['master']}`, width {rec['width']}, data `{rec['data']}`, "
                f"JVM {rec['jvm']}, Spark {rec['spark']}, commit `{rec['commit']}`, "
                f"sources `{rec['source_digest']}`.", "",
                "| metric | unit | median | q1 | q3 | spread | bound |", "|---|---|---|---|---|---|---|"]
        for m, s in r["end_to_end"].items():
            out.append(f"| {m} | {units[m]} | {s['median']:.4g} | {s['q1']:.4g} | {s['q3']:.4g} | "
                       f"{s['spread']:.3f} | {bounds[m]} |")
        f = r["fit_s"]
        if r["traced"].get("store.builds"):
            out.append(f"| (fit_s) | s | {f['median']:.4g} | {f['q1']:.4g} | {f['q3']:.4g} | "
                       f"{f['spread']:.3f} | - |")
        out += ["", f"Tracing overhead (median traced minus median untraced timed wall): "
                f"{r['trace_overhead_s']:+.3f} s ({100 * r['trace_overhead_share']:+.1f} %).", "",
                f"Per layer, medians of {len(r['traced_seeds'])} traced runs "
                f"(seeds {r['traced_seeds']}):", "", "| metric | unit | value |", "|---|---|---|"]
        out += [f"| {k} | {units[k]} | {v:.4g} |" for k, v in r["traced"].items()]
        out.append("")
    return "\n".join(out)


if __name__ == "__main__":
    main()
