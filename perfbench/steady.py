#!/usr/bin/env python3
"""Run workloads repeatedly and report each metric's median and quartile spread.

Usage, from the repository root:

    python3 perfbench/steady.py --workloads dml_mix,log_churn,dedup_chain --runs 10

Each run gets its own seed (first-seed, first-seed + 1, ...). For every
metric the script prints the median, the first and third quartiles
(`statistics.quantiles(values, n=4)`), and the spread: (q3 - q1) / median.
For end-to-end metrics it also prints the bound from BENCHMARK.json and
whether the spread is below a third of it. `--trace 1` reports the
per-layer metrics instead. `--json FILE` keeps every run's result.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))


def one_run(workload, seed, seconds, trace):
    t0 = time.time()
    p = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    wall = time.time() - t0
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if p.returncode == 0 and lines else None
    info = json.loads(lines[-2]) if len(lines) >= 2 else None
    return {"workload": workload, "seed": seed, "trace": trace, "rc": p.returncode,
            "wall_s": wall, "result": result, "info": info}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default="dml_mix,log_churn,dedup_chain")
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=None)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--json", default=None)
    a = ap.parse_args()

    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    seconds = a.seconds or spec["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    runs = []
    for w in a.workloads.split(","):
        vals = {}
        for k in range(a.runs):
            r = one_run(w, a.first_seed + k, seconds, a.trace)
            runs.append(r)
            res = r["result"]
            ok = res is not None and res["correct"] and res["failed"] == 0
            print(f"{w} seed={r['seed']} rc={r['rc']} ok={ok} wall={r['wall_s']:.1f}s", flush=True)
            if res is None:
                continue
            for name, m in res["metrics"].items():
                vals.setdefault(name, []).append(m["value"])
        print(f"\n{w}: {a.runs} runs")
        print(f"  {'metric':34s} {'median':>12s} {'q1':>12s} {'q3':>12s} {'spread':>7s} {'bound':>6s}")
        for name, xs in vals.items():
            med = statistics.median(xs)
            q1, _, q3 = statistics.quantiles(xs, n=4) if len(xs) > 1 else (xs[0], 0, xs[0])
            spread = (q3 - q1) / med if med else float("nan")
            b = bounds.get(name)
            flag = "" if b is None else ("  ok" if spread < b / 3 else "  WIDE")
            bs = f"{b:6.2f}" if b is not None else "     -"
            print(f"  {name:34s} {med:12.4f} {q1:12.4f} {q3:12.4f} {spread:7.3f} {bs}{flag}")
        walls = [r["wall_s"] for r in runs if r["workload"] == w]
        print(f"  wall per run: median {statistics.median(walls):.1f}s, max {max(walls):.1f}s\n", flush=True)
    if a.json:
        with open(a.json, "w") as f:
            json.dump(runs, f, indent=1)


if __name__ == "__main__":
    main()
