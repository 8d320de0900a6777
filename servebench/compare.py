#!/usr/bin/env python3
"""Compare two sets of serving-benchmark run records, e.g. parent and change.

    python3 servebench/compare.py PARENT.jsonl CHANGE.jsonl [--spec BENCHMARK.json]

Each file holds run records as written by `run.py --record`. For every
workload and metric (end-to-end metrics of untraced runs, per-layer metrics
of traced runs) it prints each set's median and quartiles, the share of
pairs the change wins (runs paired by seed, else in file order; ties count
for neither side) and a verdict:

  improved    the change wins at least 9 of 10 pairs and the medians differ
              by more than the distance between the parent's quartiles
  no worse    the change's median is not worse than the parent's by more
              than the metric's bound
  worse       it is worse by more than the bound
  unresolved  the parent's own spread (quartile distance / median) is wider
              than the bound, and not every change run beats every parent run
  unchanged   every run of both sets reads the same value (a count that
              repeats exactly)

Each record carries the direction in which its metrics improve; the bounds
come from BENCHMARK.json. A metric without a bound is `improved` or `worse`
by the rule for `improved` (seen from either side) and else `unresolved`.
"""
import argparse
import json
import statistics


def load(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def series(records, traced):
    """{(workload, metric): {key: value}}, keyed by seed (or position)."""
    out = {}
    for i, r in enumerate(x for x in records if bool(x.get("trace")) == traced):
        block = r.get("layers" if traced else "e2e", {})
        for name, m in block.items():
            out.setdefault((r["workload"], name), {})[r.get("seed", i)] = m
    return out


def quartiles(v):
    if len(v) < 2:
        return v[0], v[0], v[0]
    q = statistics.quantiles(v, n=4)
    return q[0], statistics.median(v), q[2]


def verdict(p, c, lower, bound):
    p1, pm, p3 = quartiles(p)
    c1, cm, c3 = quartiles(c)
    better = (lambda a, b: a < b) if lower else (lambda a, b: a > b)
    pairs = list(zip(p, c))
    wins = sum(better(b, a) for a, b in pairs) / len(pairs)
    losses = sum(better(a, b) for a, b in pairs) / len(pairs)
    spread = (p3 - p1) / abs(pm) if pm else 0.0
    worse_by = ((cm - pm) if lower else (pm - cm)) / abs(pm) if pm else 0.0
    everywhere = all(better(b, a) for a in p for b in c)
    if len(set(p) | set(c)) == 1:
        v = "unchanged"
    elif wins >= 0.9 and better(cm, pm) and abs(cm - pm) > (p3 - p1):
        v = "improved"
    elif bound is None:
        v = ("worse" if losses >= 0.9 and better(pm, cm) and abs(cm - pm) > (p3 - p1)
             else "unresolved")
    elif spread > bound and not everywhere:
        v = "unresolved"
    elif worse_by > bound:
        v = "worse"
    else:
        v = "no worse"
    return (p1, pm, p3), (c1, cm, c3), wins, v


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--spec", default="BENCHMARK.json")
    args = ap.parse_args()
    with open(args.spec) as f:
        spec = json.load(f)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    parent, change = load(args.parent), load(args.change)

    print(f"{'workload':13} {'metric':28} {'unit':6} {'parent q1/median/q3':>30} "
          f"{'change q1/median/q3':>30} {'wins':>5}  verdict")
    for traced in (False, True):
        ps, cs = series(parent, traced), series(change, traced)
        for key in sorted(set(ps) & set(cs)):
            workload, name = key
            pa, ca = ps[key], cs[key]
            shared = sorted(set(pa) & set(ca), key=str)
            if shared:
                p, c = [pa[k]["value"] for k in shared], [ca[k]["value"] for k in shared]
            else:
                p, c = [x["value"] for x in pa.values()], [x["value"] for x in ca.values()]
                n = min(len(p), len(c))
                p, c = p[:n], c[:n]
            first = next(iter(pa.values()))
            unit, lower = first["unit"], first["better"] == "lower"
            bound = bounds.get(name) if not traced else None
            (p1, pm, p3), (c1, cm, c3), wins, v = verdict(p, c, lower, bound)
            print(f"{workload:13} {name:28} {unit:6} {p1:9.4g} {pm:9.4g} {p3:9.4g}   "
                  f"{c1:9.4g} {cm:9.4g} {c3:9.4g}  {wins:5.2f}  {v}")


if __name__ == "__main__":
    main()
