#!/usr/bin/env python3
"""A/A check: run the benchmark in two sets on one commit and compare.

    python3 perfbench/aa.py [--workloads build,query-hot] [--runs 10]
                            [--sets 2] [--first-seed 1]

Each set runs every workload `--runs` times with seeds first-seed,
first-seed+1, ...; the sets use the same seeds. For each workload and
metric it prints every set's median, first and third quartile
(statistics.quantiles(n=4)), the spread (Q3 - Q1) / median, and how far
the second set's median moved from the first's in the worse direction.
Spreads and moves above a metric's bound in BENCHMARK.json are flagged.
Runs that fail or report wrong results are listed and left out.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# Diagnostics of each run printed next to its metrics, to explain outliers.
DIAG = ("warmup_drift", "window_codegen_compiles", "host_membw_mb_per_s")


def run_once(workload, seed, seconds):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        return None, f"exit {p.returncode}"
    res = json.loads(lines[-1])
    if not res["correct"] or res["failed"]:
        return None, f"failed {res['failed']}/{res['attempted']}"
    vals = {k: v["value"] for k, v in res["metrics"].items()}
    diag = next((json.loads(l[2:]) for l in reversed(lines) if l.startswith("# {")), {})
    return vals, " ".join(f"{k}={diag[k]}" for k in DIAG if k in diag)


def summary(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads")
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--first-seed", type=int, default=1)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    metrics = spec["end_to_end"]
    workloads = a.workloads.split(",") if a.workloads else [w["name"] for w in spec["workloads"]]
    seeds = list(range(a.first_seed, a.first_seed + a.runs))
    ok = True
    for w in workloads:
        sets = []
        for s in range(a.sets):
            rows = []
            for seed in seeds:
                vals, note = run_once(w, seed, spec["run_seconds"])
                if vals is None:
                    ok = False
                    print(f"{w} set {s + 1} seed {seed}: {note}", flush=True)
                else:
                    rows.append(vals)
                    print(f"{w} set {s + 1} seed {seed}: " +
                          " ".join(f"{k}={v:.6g}" for k, v in vals.items()) + f" | {note}", flush=True)
            sets.append(rows)
        print(f"\n== {w}: {a.sets} set(s) x {a.runs} runs, seeds {seeds[0]}..{seeds[-1]}")
        for m in metrics:
            name, bound = m["name"], m["bound"]
            cells, meds = [], []
            for rows in sets:
                vals = [r[name] for r in rows]
                if len(vals) < 2:
                    cells.append("n/a")
                    continue
                med, q1, q3, spread = summary(vals)
                meds.append(med)
                flag = " !" if spread > bound else ""
                ok &= not flag
                cells.append(f"med {med:.6g} q1 {q1:.6g} q3 {q3:.6g} spread {spread:.3f}{flag}")
            line = f"  {name:34s} " + " | ".join(cells)
            if len(meds) >= 2 and meds[0]:
                worse = (meds[1] - meds[0]) / meds[0] * (1 if m["better"] == "lower" else -1)
                flag = " !" if worse > bound else ""
                line += f" | worse by {worse:+.3f}{flag}"
                ok &= not flag
            print(line, flush=True)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
