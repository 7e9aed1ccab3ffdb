#!/usr/bin/env python3
"""Compare benchmark runs of a parent commit and of a change.

Usage: python3 perfbench/compare.py PARENT CHANGE [--json]

PARENT and CHANGE are each a directory of run records (as written to
.bench_build/runs/ by run.py) or a list of record files separated by commas.
For every workload and metric it prints both sides' median and quartiles,
the pairwise win fraction, and a verdict:

  improved   the change wins at least 9/10 of the pairs (ties count for
             neither) and the medians differ by more than the parent's
             quartile spread;
  no worse   the change's median is not worse than the parent's by more than
             the metric's bound, and the parent's spread is within the bound;
  worse      the change's median is worse by more than the bound, and the
             spread is within the bound;
  unresolved otherwise (the run-to-run spread is wider than the bound), unless
             every change run reads better than every parent run.

Runs pair up by seed when both sides used the same seeds, else in run order.
Bounds and directions come from BENCHMARK.json; metrics not listed there
(the workload-specific ones) use the bound of wall_s, and read higher-better
only when their unit is a rate (ends in "/s").
"""
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def load(arg):
    files = sorted(glob.glob(os.path.join(arg, "*.json"))) if os.path.isdir(arg) else arg.split(",")
    runs = []
    for f in files:
        with open(f) as fh:
            runs.append(json.load(fh))
    if not runs:
        sys.exit(f"compare: no run records in {arg}")
    return runs


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def verdict(parent, change, higher, bound):
    pq1, pmed, pq3 = quartiles(parent)
    cq1, cmed, cq3 = quartiles(change)
    sign = 1.0 if higher else -1.0
    pairs = list(zip(parent, change))
    wins = sum(1 for p, c in pairs if sign * (c - p) > 0)
    win_frac = wins / len(pairs)
    if pmed:
        spread = (pq3 - pq1) / abs(pmed)
        worse_by = sign * (pmed - cmed) / abs(pmed)
    else:  # a count that reads 0, such as failed_frac
        spread = 0.0 if pq3 == pq1 else float("inf")
        worse_by = 0.0 if cmed == pmed else (float("inf") if sign * (pmed - cmed) > 0 else float("-inf"))
    if win_frac >= 0.9 and sign * (cmed - pmed) > (pq3 - pq1):
        v = "improved"
    elif all(sign * (c - p) > 0 for c in change for p in parent):
        v = "no worse"
    elif spread > bound:
        v = "unresolved"
    elif worse_by > bound:
        v = "worse"
    else:
        v = "no worse"
    return {"parent": [pq1, pmed, pq3], "change": [cq1, cmed, cq3], "win_frac": win_frac,
            "pairs": len(pairs), "spread": spread, "change_vs_parent": worse_by,
            "bound": bound, "verdict": v}


def pair_up(parent, change):
    ps = {r["run"]["seed"]: r for r in parent}
    cs = {r["run"]["seed"]: r for r in change}
    common = sorted(set(ps) & set(cs))
    if len(common) == min(len(parent), len(change)) and common:
        return [ps[s] for s in common], [cs[s] for s in common]
    n = min(len(parent), len(change))
    return parent[:n], change[:n]


def main():
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    if len(args) != 2:
        sys.exit(__doc__)
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    contract = {m["name"]: m for m in spec["end_to_end"]}
    default_bound = contract["wall_s"]["bound"]
    parent_all, change_all = load(args[0]), load(args[1])
    out = []
    for wl in sorted({r["run"]["workload"] for r in parent_all + change_all}):
        for traced in (0, 1):
            p = [r for r in parent_all if r["run"]["workload"] == wl and r["run"]["trace"] == traced]
            c = [r for r in change_all if r["run"]["workload"] == wl and r["run"]["trace"] == traced]
            if not p or not c:
                continue
            p, c = pair_up(p, c)
            key = "per_layer" if traced else "end_to_end"
            for m in p[0][key]:
                name, unit = m["name"], m["unit"]
                pv = [next(x["value"] for x in r[key] if x["name"] == name) for r in p]
                cv = [next(x["value"] for x in r[key] if x["name"] == name) for r in c]
                if name in contract:
                    higher, bound = contract[name]["better"] == "higher", contract[name]["bound"]
                else:
                    higher, bound = unit.endswith("/s"), default_bound
                row = {"workload": wl, "metric": name, "unit": unit, **verdict(pv, cv, higher, bound)}
                if traced:
                    row["verdict"] = "(per-layer, no bound)"
                out.append(row)
            pf = sum(r["failed"] for r in p)
            cf = sum(r["failed"] for r in c)
            if cf > pf:
                out.append({"workload": wl, "metric": "failed ops", "verdict": f"change fails {cf} ops, parent {pf}"})
    if "--json" in sys.argv:
        print(json.dumps(out, indent=1))
        return
    print(f"{'workload':8s} {'metric':30s} {'parent q1/med/q3':>32s} {'change q1/med/q3':>32s} "
          f"{'wins':>7s}  verdict")
    for r in out:
        if "parent" not in r:
            print(f"{r['workload']:8s} {r['metric']:30s} {r['verdict']}")
            continue
        fmt = lambda q: "/".join(f"{x:.4g}" for x in q)  # noqa: E731
        print(f"{r['workload']:8s} {r['metric']:30s} {fmt(r['parent']):>32s} {fmt(r['change']):>32s} "
              f"{r['win_frac']:>6.0%}  {r['verdict']}"
              + (f" (spread {r['spread']:.1%}, bound {r['bound']:.0%})" if "bound" in r and "per-layer" not in r["verdict"] else ""))


if __name__ == "__main__":
    main()
