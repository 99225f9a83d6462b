#!/usr/bin/env python3
"""Paired A/B summary of perfbench runs: parent commit against a change.

Usage: perf_pairs.py PARENT.jsonl CHANGE.jsonl [--claim WORKLOAD:METRIC]...

Each input line is the last line `perfbench/run.py --trace 0` prints (the
JSON object with `correct`, `attempted`, `failed` and `metrics`) with two
keys added: `workload` and `seed`. Runs pair up by (workload, seed).

Per workload and end-to-end metric of BENCHMARK.json it prints each side's
median and quartiles, the share of pairs the change wins (ties count for
neither side) and a verdict:

  FAIL        the change's median is worse than the parent's by more than
              the metric's bound
  unresolved  either side's quartile spread, relative to its median, is
              wider than the bound, and not every change run beats every
              parent run
  gain        the change wins at least 9/10 of the pairs and the medians
              differ, in the better direction, by more than the parent's
              interquartile range
  ok          none of the above

Exit status 1 when any metric fails, a `--claim`ed metric is not a gain, or
the share of failed operations is higher on the change. The bounds come
from the repository's BENCHMARK.json, which is only read.
"""
import argparse
import json
import os
import statistics
import sys


def load(path):
    runs = {}
    with open(path) as f:
        for line in f:
            if line.strip():
                r = json.loads(line)
                runs[(r["workload"], r["seed"])] = r
    return runs


def value(run, metric):
    return run["metrics"][metric]["value"]


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def fail_share(runs):
    return sum(r["failed"] for r in runs) / max(1, sum(r["attempted"] for r in runs))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--claim", action="append", default=[],
                    help="WORKLOAD:METRIC that must read as a gain")
    args = ap.parse_args()
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "..",
                           "BENCHMARK.json")) as f:
        metrics = json.load(f)["end_to_end"]
    parent, change = load(args.parent), load(args.change)
    keys = sorted(set(parent) & set(change))
    ok = True
    for workload in sorted({w for w, _ in keys}):
        pairs = [(parent[k], change[k]) for k in keys if k[0] == workload]
        ps, cs = [p for p, _ in pairs], [c for _, c in pairs]
        fp, fc = fail_share(ps), fail_share(cs)
        wrong = sum(not r["correct"] for r in cs)
        print(f"== {workload}: {len(pairs)} pairs, seeds "
              f"{sorted(k[1] for k in keys if k[0] == workload)}")
        print(f"failed ops: parent {fp:.4f}  change {fc:.4f}; "
              f"incorrect change runs: {wrong}")
        ok &= fc <= fp and wrong == 0
        print(f"{'metric':18s} {'parent q1/med/q3':>26s} {'change q1/med/q3':>26s} "
              f"{'delta':>7s} {'wins':>6s} {'bound':>5s}  verdict")
        for m in metrics:
            name, bound = m["name"], m["bound"]
            sign = 1 if m["better"] == "lower" else -1
            pv = [value(p, name) for p in ps]
            cv = [value(c, name) for c in cs]
            (p1, pm, p3), (c1, cm, c3) = quartiles(pv), quartiles(cv)
            wins = sum(sign * (c - p) < 0 for p, c in zip(pv, cv))
            worse = sign * (cm - pm) / abs(pm) if pm else 0.0
            spread = max((p3 - p1) / abs(pm) if pm else 0.0,
                         (c3 - c1) / abs(cm) if cm else 0.0)
            all_better = max(sign * c for c in cv) < min(sign * p for p in pv)
            if worse > bound:
                verdict = "FAIL"
            elif spread > bound and not all_better:
                verdict = "unresolved"
            elif wins >= 0.9 * len(pairs) and sign * (pm - cm) > p3 - p1:
                verdict = "gain"
            else:
                verdict = "ok"
            if verdict == "FAIL" or (f"{workload}:{name}" in args.claim and verdict != "gain"):
                ok = False
            print(f"{name:18s} {p1:8.4g}/{pm:8.4g}/{p3:8.4g} {c1:8.4g}/{cm:8.4g}/{c3:8.4g} "
                  f"{(cm / pm - 1) * 100 if pm else 0.0:+6.1f}% {wins:2d}/{len(pairs):<3d} "
                  f"{bound:5.2f}  {verdict}")
    missing = [c for c in args.claim if not any(k[0] == c.split(":")[0] for k in keys)]
    if missing:
        print(f"claims without paired runs: {missing}")
        ok = False
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
