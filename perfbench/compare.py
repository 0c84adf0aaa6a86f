#!/usr/bin/env python3
"""Compare two sets of benchmark runs, or check the spread of one set.

Each run is a file holding run.py's standard output (its first line names
the workload, its last line is the JSON result):

    python3 perfbench/compare.py --base 'runs/base/*.out' --head 'runs/head/*.out'
    python3 perfbench/compare.py --base 'runs/base/*.out'

With two sets it prints one row per workload x end-to-end metric: each
set's median and quartiles, the change of the median, and a verdict under
the metric's bound from BENCHMARK.json — `better` or `worse` when the
median moved by more than the bound, `unresolved` when either set spreads
(interquartile range over median) wider than the bound, else `unchanged`.
Traced runs (`--trace 1`) in both sets add a per-layer delta table.
With one set it prints each metric's spread against its bound.
"""
import argparse
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load(pattern):
    """{workload: {"e2e": {metric: [values]}, "layers": {...}}}"""
    runs = {}
    for path in sorted(glob.glob(pattern)):
        lines = [l for l in open(path).read().splitlines() if l.strip()]
        if not lines or not lines[0].startswith("workload "):
            continue
        try:
            res = json.loads(lines[-1])
        except json.JSONDecodeError:
            continue
        w = lines[0].split()[1]
        kind = "layers" if any("." in k for k in res["metrics"]) else "e2e"
        d = runs.setdefault(w, {"e2e": {}, "layers": {}})[kind]
        for k, v in res["metrics"].items():
            d.setdefault(k, []).append(float(v["value"]))
    return runs


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def spread(xs):
    q1, m, q3 = quartiles(xs)
    return (q3 - q1) / m if m else float("inf")


def verdict(base, head, better, bound):
    b, h = statistics.median(base), statistics.median(head)
    if max(spread(base), spread(head)) > bound:
        return "unresolved"
    change = (h - b) / b if b else 0.0
    worse = change if better == "lower" else -change
    if worse > bound:
        return "worse"
    if worse < -bound:
        return "better"
    return "unchanged"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--base", required=True, help="glob of run outputs")
    ap.add_argument("--head", help="glob of run outputs to compare with --base")
    a = ap.parse_args()
    spec = json.load(open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")))
    metrics = {m["name"]: m for m in spec["end_to_end"]}
    base = load(a.base)
    if not base:
        sys.exit(f"no runs match {a.base}")

    if a.head is None:
        print(f"{'workload':<10} {'metric':<16} {'n':>3} {'median':>12} {'spread':>8} {'bound':>6}  steady")
        ok = True
        for w in sorted(base):
            for name, m in metrics.items():
                xs = base[w]["e2e"].get(name)
                if not xs:
                    continue
                s = spread(xs)
                steady = s <= m["bound"] / 3 or name == "setup_s"
                ok &= s <= m["bound"] or name == "setup_s"
                print(f"{w:<10} {name:<16} {len(xs):>3} {statistics.median(xs):>12.5g} "
                      f"{s:>8.3f} {m['bound']:>6}  {'yes' if steady else 'NO'}")
        sys.exit(0 if ok else 1)

    head = load(a.head)
    print(f"{'workload':<10} {'metric':<16} {'base q1/med/q3':>30} {'head q1/med/q3':>30} "
          f"{'change':>8}  verdict")
    for w in sorted(set(base) & set(head)):
        for name, m in metrics.items():
            b, h = base[w]["e2e"].get(name), head[w]["e2e"].get(name)
            if not b or not h:
                continue
            bq, hq = quartiles(b), quartiles(h)
            change = (hq[1] - bq[1]) / bq[1] if bq[1] else 0.0
            fmt = lambda q: f"{q[0]:.4g}/{q[1]:.4g}/{q[2]:.4g}"
            print(f"{w:<10} {name:<16} {fmt(bq):>30} {fmt(hq):>30} {change:>+8.1%}  "
                  f"{verdict(b, h, m['better'], m['bound'])}")
    rows = []
    for w in sorted(set(base) & set(head)):
        for name in sorted(set(base[w]["layers"]) & set(head[w]["layers"])):
            b = statistics.median(base[w]["layers"][name])
            h = statistics.median(head[w]["layers"][name])
            if b or h:
                rows.append((w, name, b, h, (h - b) / b if b else float("inf")))
    if rows:
        print(f"\n{'workload':<10} {'per-layer metric':<30} {'base':>14} {'head':>14} {'change':>8}")
        for w, name, b, h, c in rows:
            print(f"{w:<10} {name:<30} {b:>14.5g} {h:>14.5g} {c:>+8.1%}")


if __name__ == "__main__":
    main()
