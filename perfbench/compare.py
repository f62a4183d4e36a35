#!/usr/bin/env python3
"""Compare two checkouts of the repository on one workload.

Usage:

    python3 perfbench/compare.py --parent ../parent-checkout --change . --workload dml_mix

Runs ten pairs (`--pairs`), each pair with its own seed and both sides with
the same seed, alternating which side runs first. The benchmark runs from
each checkout's root with that checkout's own `perfbench/run.py`, and the
same `--seconds` (BENCHMARK.json of the change by default). For every
metric it prints each side's median and quartiles, how many pairs the
change won, and a verdict: "gain" only when the change wins at least 9 of
10 pairs and the medians differ by more than the parent's quartile spread;
"regression" when the change's median is worse than the parent's by more
than the bound; otherwise "within bound", or "unresolved" when the
parent's own spread is wider than the bound.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def run(checkout, workload, seed, seconds, trace):
    p = subprocess.run([sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.exit(f"run failed in {checkout} (seed {seed}, exit {p.returncode})")
    res = json.loads(lines[-1])
    if not res["correct"] or res["failed"]:
        sys.exit(f"outputs wrong in {checkout} (seed {seed})")
    return {k: v["value"] for k, v in res["metrics"].items()}


def quartiles(xs):
    q1, q2, q3 = statistics.quantiles(xs, n=4) if len(xs) > 1 else (xs[0],) * 3
    return q1, statistics.median(xs), q3


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1000)
    ap.add_argument("--seconds", type=int, default=None)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    with open(os.path.join(a.change, "BENCHMARK.json")) as f:
        spec = json.load(f)
    seconds = a.seconds or spec["run_seconds"]
    metrics = spec["per_layer"] if a.trace else spec["end_to_end"]
    side = {"parent": [], "change": []}
    for k in range(a.pairs):
        seed = a.first_seed + k
        order = ["parent", "change"] if k % 2 == 0 else ["change", "parent"]
        for s in order:
            side[s].append(run(getattr(a, s), a.workload, seed, seconds, a.trace))
        print(f"pair {k + 1}/{a.pairs} done (seed {seed}, {order[0]} first)", flush=True)

    print(f"\n{a.workload}: {a.pairs} pairs")
    print(f"  {'metric':32s} {'parent q1/med/q3':>32s} {'change q1/med/q3':>32s} {'wins':>5s}  verdict")
    for m in metrics:
        n, lower = m["name"], m["better"] == "lower"
        p = [r[n] for r in side["parent"]]
        c = [r[n] for r in side["change"]]
        pq, cq = quartiles(p), quartiles(c)
        wins = sum((y < x) if lower else (y > x) for x, y in zip(p, c))
        spread = pq[2] - pq[0]
        # by how much the change's median is worse, as a share of the parent's
        worse = ((cq[1] - pq[1]) if lower else (pq[1] - cq[1])) / pq[1] if pq[1] else 0.0
        bound = m.get("bound")
        if wins >= 0.9 * a.pairs and abs(cq[1] - pq[1]) > spread and worse < 0:
            verdict = "gain"
        elif bound is None:
            verdict = "-"
        elif worse > bound:
            verdict = "regression"
        elif pq[1] and spread / pq[1] > bound:
            verdict = "unresolved"
        else:
            verdict = "within bound"
        fmt = lambda q: "/".join(f"{v:.4g}" for v in q)
        print(f"  {n:32s} {fmt(pq):>32s} {fmt(cq):>32s} {wins:>3d}/{a.pairs}  {verdict}")


if __name__ == "__main__":
    main()
