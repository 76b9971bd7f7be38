"""Steadiness check: run every workload of BENCHMARK.json once per seed and
report, per end-to-end metric, the median, the quartiles and the spread
(distance between the quartiles as a share of the median) against the
metric's bound.

    python3 convbench/steady.py --seeds 1-10 --out .bench_build/set1.jsonl
    python3 convbench/steady.py --report .bench_build/set1.jsonl .bench_build/set2.jsonl

Each run's result line is appended to --out as it finishes.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds_of(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run_set(bench, seeds, out, workloads):
    for seed in seeds:
        for w in workloads:
            t = time.time()
            p = subprocess.run([*bench["command"], "--workload", w, "--seed", str(seed),
                                "--seconds", str(bench["run_seconds"]), "--trace", "0"],
                               cwd=ROOT, stdout=subprocess.PIPE, text=True)
            lines = p.stdout.strip().splitlines()
            rec = {"workload": w, "seed": seed, "exit": p.returncode,
                   "wall_s": round(time.time() - t, 1),
                   "result": json.loads(lines[-1]) if lines else None}
            with open(out, "a") as f:
                f.write(json.dumps(rec) + "\n")
            print(f"{w} seed {seed}: exit {p.returncode}, {rec['wall_s']} s", file=sys.stderr)


def report(bench, path):
    with open(path) as f:
        recs = [json.loads(line) for line in f if line.strip()]
    print(f"## {os.path.basename(path)}")
    print("| workload | metric | median | Q1 | Q3 | spread | bound | runs | failed/attempted |")
    print("|---|---|---|---|---|---|---|---|---|")
    for w in [x["name"] for x in bench["workloads"]]:
        rs = [r["result"] for r in recs if r["workload"] == w and r["result"]]
        if not rs:
            continue
        fails = {f"{r['failed']}/{r['attempted']}" for r in rs}
        for m in bench["end_to_end"]:
            vals = [r["metrics"][m["name"]]["value"] for r in rs if m["name"] in r["metrics"]]
            if len(vals) < 2:
                continue
            q1, med, q3 = statistics.quantiles(vals, n=4)
            print(f"| {w} | {m['name']} | {med:.4g} | {q1:.4g} | {q3:.4g} | "
                  f"{(q3 - q1) / med:.3f} | {m['bound']} | {len(vals)} | {', '.join(sorted(fails))} |")
    walls = [r["wall_s"] for r in recs]
    print(f"\nruns: {len(recs)}, wall per run: median {statistics.median(walls):.1f} s, "
          f"max {max(walls):.1f} s\n")


def main():
    ap = argparse.ArgumentParser(description="benchmark steadiness over seeds")
    ap.add_argument("--seeds", help="seed range, e.g. 1-10")
    ap.add_argument("--out", help="JSON-lines file the runs are appended to")
    ap.add_argument("--workloads", nargs="*")
    ap.add_argument("--report", nargs="*", default=[], help="result files to summarise")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    if a.seeds:
        run_set(bench, seeds_of(a.seeds), a.out,
                a.workloads or [w["name"] for w in bench["workloads"]])
        a.report = a.report or [a.out]
    for path in a.report:
        report(bench, path)


if __name__ == "__main__":
    main()
