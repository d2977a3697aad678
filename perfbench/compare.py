#!/usr/bin/env python3
"""Compare benchmark runs of a parent commit and of a change.

    python3 perfbench/compare.py PARENT.jsonl CHANGE.jsonl [--benchmark BENCHMARK.json]

Each input holds the records `run.py --record FILE` appends, one run per
line; runs of the two sides pair up in order, per workload and trace mode,
so alternate the sides when making them. For every workload and metric it
prints each side's median and quartiles and a verdict:

  improved         the change wins at least 9 of 10 pairs and the medians
                   differ by more than the parent's interquartile range
  regressed-beyond the change's median is worse than the parent's by more
                   than the metric's bound (end-to-end metrics)
  regressed-within worse, but within the bound
  unchanged        neither better by the rule above nor worse
  unresolved       the parent's own spread is wider than the bound, or (for
                   per-layer metrics, which have no bound) the pairs do not
                   decide, unless every change run beats every parent run
"""

import argparse
import collections
import json
import statistics
import sys


def load(path):
    runs = collections.defaultdict(list)
    with open(path) as fh:
        for line in fh:
            if line.strip():
                r = json.loads(line)
                runs[(r["workload"], r["trace"])].append(r)
    return runs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def verdict(parent, change, better, bound):
    sign = 1.0 if better == "higher" else -1.0
    p1, pm, p3 = quartiles(parent)
    _, cm, _ = quartiles(change)
    pairs = list(zip(parent, change))
    wins = sum(1 for p, c in pairs if sign * (c - p) > 0)
    gap = sign * (cm - pm)
    all_better = min(sign * c for c in change) > max(sign * p for p in parent)
    if pairs and wins >= 0.9 * len(pairs) and abs(cm - pm) > p3 - p1 and gap > 0:
        return "improved"
    spread = (p3 - p1) / abs(pm) if pm else float("inf")
    if bound is None:
        losses = sum(1 for p, c in pairs if sign * (c - p) < 0)
        if pairs and losses >= 0.9 * len(pairs) and abs(cm - pm) > p3 - p1:
            return "regressed"
        return "improved" if all_better else "unresolved"
    if spread > bound and not all_better:
        return "unresolved"
    if gap < 0:
        return "regressed-beyond" if -gap > bound * abs(pm) else "regressed-within"
    return "unchanged"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--benchmark", default="BENCHMARK.json")
    a = ap.parse_args()
    with open(a.benchmark) as fh:
        spec = json.load(fh)
    metrics = {0: spec["end_to_end"], 1: spec["per_layer"]}
    parent, change = load(a.parent), load(a.change)
    worst = 0
    for key in sorted(set(parent) & set(change)):
        workload, trace = key
        ps, cs = parent[key], change[key]
        print(f"\n{workload} ({'per-layer' if trace else 'end-to-end'}; "
              f"{len(ps)} parent runs, {len(cs)} change runs)")
        print(f"  {'metric':40} {'parent median [q1, q3]':>32} {'change median [q1, q3]':>32}  verdict")
        for m in metrics[trace]:
            pv = [r["metrics"][m["name"]]["value"] for r in ps if m["name"] in r["metrics"]]
            cv = [r["metrics"][m["name"]]["value"] for r in cs if m["name"] in r["metrics"]]
            if not pv or not cv:
                continue
            v = verdict(pv, cv, m["better"], m.get("bound"))
            worst = max(worst, v == "regressed-beyond")
            fmt = lambda q: f"{q[1]:.4g} [{q[0]:.4g}, {q[2]:.4g}]"
            print(f"  {m['name']:40} {fmt(quartiles(pv)):>32} {fmt(quartiles(cv)):>32}  {v}")
    sys.exit(1 if worst else 0)


if __name__ == "__main__":
    main()
