#!/usr/bin/env python3
"""Compares two sets of benchmark runs, metric by metric.

    python3 martbench/compare.py PARENT_RESULTS CHANGE_RESULTS

Each argument is a directory of run records as run.py leaves them in
martbench/.work/results/ (or a single record file). Runs of one workload
are paired in the order they started, so the two sets should be run as
alternating pairs: parent, change, change, parent, ... on the same seeds,
at least 10 pairs per workload. For every workload in the records and
end-to-end metric of BENCHMARK.json this prints each side's median and
quartiles, each side's failed over attempted ops, and one of improved / no worse /
worse / unresolved, by stats.verdict and the metric's bound: a workload
whose change runs failed more ops than the parent's is worse on every
metric. Exits 1 when any metric is worse.
"""

import json
import os
import statistics
import sys

import stats

HERE = os.path.dirname(os.path.abspath(__file__))


def load(path):
    files = ([os.path.join(path, f) for f in sorted(os.listdir(path)) if f.endswith(".json")]
             if os.path.isdir(path) else [path])
    runs = []
    for f in files:
        with open(f) as fh:
            r = json.load(fh)
        if not r["trace"]:
            runs.append(r)
    return runs


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    parent, change = load(sys.argv[1]), load(sys.argv[2])
    any_worse = False
    print(f"{'workload':14s} {'metric':14s} {'pairs':>5s} {'parent median [q1, q3]':>34s} "
          f"{'change median [q1, q3]':>34s} {'failed/attempted p, c':>22s}  verdict")
    for w in sorted({r["workload"] for r in parent + change}):
        p = sorted((r for r in parent if r["workload"] == w), key=lambda r: r["started"])
        c = sorted((r for r in change if r["workload"] == w), key=lambda r: r["started"])
        n = min(len(p), len(c))
        p, c = p[:n], c[:n]
        pf, cf = (sum(len(r["failures"]) for r in runs) for runs in (p, c))
        ops = f"{pf}/{sum(r['attempted'] for r in p)}, {cf}/{sum(r['attempted'] for r in c)}"
        # a run whose every op failed has no metrics; its pair is left out
        pairs = [(a, b) for a, b in zip(p, c) if a["metrics"] and b["metrics"]]
        for m in bench["end_to_end"]:
            pv = [a["metrics"][m["name"]]["value"] for a, _ in pairs]
            cv = [b["metrics"][m["name"]]["value"] for _, b in pairs]
            v = stats.verdict(pv, cv, m["better"], m["bound"], pf, cf)
            any_worse |= v == "worse"

            def show(xs):
                if len(xs) < 2:
                    return "-"
                q1, q2, q3 = statistics.quantiles(xs, n=4)
                return f"{q2:.5g} [{q1:.5g}, {q3:.5g}]"
            print(f"{w:14s} {m['name']:14s} {len(pairs):5d} {show(pv):>34s} {show(cv):>34s} "
                  f"{ops:>22s}  {v}")
    sys.exit(1 if any_worse else 0)


if __name__ == "__main__":
    main()
