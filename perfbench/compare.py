#!/usr/bin/env python3
"""Compare two sets of benchmark runs.

Usage:

    python3 perfbench/compare.py A B [--spec BENCHMARK.json]

A and B are directories (or single files) of run records written by
`perfbench/run.py` (its `--out` files, or `.bench_build/results/*.json`).
For every workload and metric it prints each side's median and
quartiles, the change of B's median against A's, and the share of
alternating pairs (i-th run of A against i-th run of B, runs ordered by
seed) that B won. Each end-to-end metric is judged against its bound in
BENCHMARK.json: `unresolved` when either side's spread (interquartile
range over median) is wider than the bound, `worse` / `better` when the
medians differ by more than the bound, `same` otherwise; a wide spread
still reads `better` when every run of B beats every run of A.

Records whose environments differ (cores, heap, chain sizes, delays,
offered rate, run length; seeds, commits and tracing excepted) are
refused. Passing untraced runs as A and traced runs as B reports the
tracing overhead.
"""
import argparse
import glob
import json
import os
import statistics
import sys

IGNORED_ENV = {"seed", "commit", "trace", "clients"}


def load(path):
    files = sorted(glob.glob(os.path.join(path, "*.json"))) if os.path.isdir(path) else [path]
    recs = []
    for f in files:
        with open(f) as fh:
            r = json.load(fh)
        if "workload" in r and "metrics" in r:
            recs.append(r)
    return recs


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4)
    return q1, med, q3


def env_key(r):
    return tuple(sorted((k, str(v)) for k, v in r["env"].items() if k not in IGNORED_ENV))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("a")
    ap.add_argument("b")
    ap.add_argument("--spec", default=os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                                   "..", "BENCHMARK.json"))
    args = ap.parse_args()
    with open(args.spec) as f:
        spec = json.load(f)
    metrics = {m["name"]: m for m in spec["end_to_end"] + spec["per_layer"]}
    a, b = load(args.a), load(args.b)
    if not a or not b:
        sys.exit("compare: no run records on one side")

    refused = False
    for side, recs in (("A", a), ("B", b)):
        for w in sorted({r["workload"] for r in recs}):
            if len({r["env"].get("trace") for r in recs if r["workload"] == w}) > 1:
                print(f"{side}: {w} mixes traced and untraced runs, refusing to compare")
                refused = True
    for w in sorted({r["workload"] for r in a + b}):
        envs = {env_key(r) for r in a + b if r["workload"] == w}
        if len(envs) > 1:
            print(f"{w}: environments differ, refusing to compare:")
            for e in envs:
                print("   ", dict(e))
            refused = True
    if refused:
        sys.exit(2)

    print(f"{'workload':9} {'metric':38} {'A median [q1,q3]':>28} {'B median [q1,q3]':>28}"
          f" {'change':>8} {'B won':>6} {'bound':>6}  verdict")
    for w in sorted({r["workload"] for r in a} & {r["workload"] for r in b}):
        ra = sorted((r for r in a if r["workload"] == w), key=lambda r: r["env"]["seed"])
        rb = sorted((r for r in b if r["workload"] == w), key=lambda r: r["env"]["seed"])
        for name, m in metrics.items():
            xa = [r["metrics"][name]["value"] for r in ra if name in r["metrics"]]
            xb = [r["metrics"][name]["value"] for r in rb if name in r["metrics"]]
            if not xa or not xb:
                continue
            qa, qb = quartiles(xa), quartiles(xb)
            lower = m.get("better", "lower") == "lower"
            pairs = list(zip(xa, xb))
            won = sum((y < x) if lower else (y > x) for x, y in pairs) / len(pairs)
            change = (qb[1] - qa[1]) / qa[1] if qa[1] else float("nan")
            bound = m.get("bound")
            verdict = ""
            if bound is not None:
                spread = max((q[2] - q[0]) / q[1] if q[1] else float("inf") for q in (qa, qb))
                worse = change > bound if lower else change < -bound
                better = change < -bound if lower else change > bound
                beats = (max(xb) < min(xa)) if lower else (min(xb) > max(xa))
                verdict = ("better" if beats and better else
                           "unresolved" if spread > bound else
                           "worse" if worse else "better" if better else "same")
            print(f"{w:9} {name:38} {qa[1]:12.4g} [{qa[0]:.4g},{qa[2]:.4g}]".ljust(78)
                  + f" {qb[1]:12.4g} [{qb[0]:.4g},{qb[2]:.4g}]".ljust(29)
                  + f" {change:+8.1%} {won:6.0%} {'' if bound is None else format(bound, '.2f'):>6}"
                  + f"  {verdict}")


if __name__ == "__main__":
    main()
