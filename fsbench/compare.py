#!/usr/bin/env python3
"""Compare two sets of benchmark runs.

  python3 fsbench/compare.py BASE.jsonl CHANGE.jsonl [--bench BENCHMARK.json]

Each file holds one JSON line per run, as `run.py --record FILE` appends
them. Runs are paired by (workload, trace, seed). For every workload and
metric the tool prints both sides' median and quartiles and the share of
pairs the change wins (ties count for neither side). Following the
choosing-metrics rule, a gain is claimed only when the change wins at
least 9 in 10 pairs and the medians differ by more than the base's
quartile spread. An end-to-end metric whose change median is worse than
the base's by more than its bound is flagged REGRESSED, or UNRESOLVED
when the base's own spread is wider than the bound (unless every change
run beats every base run). From traced runs it names the layer whose
self time moved most.

Exit status: 1 when any metric is flagged REGRESSED, else 0.
"""
import argparse
import json
import statistics
import sys


def load(path):
    with open(path) as f:
        return [json.loads(ln) for ln in f if ln.strip()]


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def pairs(base, change, workload, trace, metric):
    a = {r["seed"]: r["metrics"][metric] for r in base
         if r["workload"] == workload and r["trace"] == trace and metric in r["metrics"]}
    b = {r["seed"]: r["metrics"][metric] for r in change
         if r["workload"] == workload and r["trace"] == trace and metric in r["metrics"]}
    seeds = sorted(set(a) & set(b))
    return list(a.values()), list(b.values()), [(a[s], b[s]) for s in seeds]


def verdict(xa, xb, prs, better, bound):
    sign = 1 if better == "higher" else -1
    q1a, ma, q3a = quartiles(xa)
    mb = statistics.median(xb)
    wins = sum(1 for x, y in prs if sign * (y - x) > 0)
    share = wins / len(prs) if prs else float("nan")
    spread = (q3a - q1a) / ma if ma else float("inf")
    worse = sign * (ma - mb) / ma if ma else 0.0
    if prs and share >= 0.9 and abs(mb - ma) > (q3a - q1a):
        return share, "improved"
    if bound is not None and worse > bound:
        all_better = min(sign * y for y in xb) > max(sign * x for x in xa)
        if spread > bound and not all_better:
            return share, "UNRESOLVED"
        return share, "REGRESSED"
    if bound is not None and spread > bound:
        return share, "unresolved"
    return share, "same"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("base")
    ap.add_argument("change")
    ap.add_argument("--bench", default="BENCHMARK.json")
    a = ap.parse_args()
    with open(a.bench) as f:
        bench = json.load(f)
    base, change = load(a.base), load(a.change)
    e2e = {m["name"]: m for m in bench["end_to_end"]}
    layer = {m["name"]: m for m in bench["per_layer"]}
    regressed = False
    workloads = sorted({r["workload"] for r in base} & {r["workload"] for r in change})
    for w in workloads:
        print(f"== {w}")
        print(f"  {'metric':28s} {'base q1/med/q3':>35s} {'change q1/med/q3':>35s}"
              f" {'wins':>6s}  verdict")
        for trace, defs in ((0, e2e), (1, layer)):
            moved = []
            for name, m in defs.items():
                xa, xb, prs = pairs(base, change, w, trace, name)
                if not xa or not xb:
                    continue
                share, v = verdict(xa, xb, prs, m.get("better", "lower"),
                                   m.get("bound"))
                regressed |= v == "REGRESSED"
                qa, qb = quartiles(xa), quartiles(xb)
                print(f"  {name:28s} " + " ".join(f"{x:11.4g}" for x in qa)
                      + " " + " ".join(f"{x:11.4g}" for x in qb)
                      + (f" {share:6.2f}" if prs else f" {'-':>6s}")
                      + f"  {v if trace == 0 else ''}")
                if name.startswith("self."):
                    moved.append((abs(qb[1] - qa[1]), name, qb[1] - qa[1]))
            if moved:
                d, name, delta = max(moved)
                print(f"  layer whose self time moved most: {name} "
                      f"({delta:+.3f} ms per operation)")
    return 1 if regressed else 0


if __name__ == "__main__":
    sys.exit(main())
