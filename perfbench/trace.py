#!/usr/bin/env python3
"""Traced run of one workload: per-layer table, per-op split, tracing overhead.

Usage (from the repository root):

    python3 perfbench/trace.py --workload llm|archive --seed N [--seconds S]

Runs the workload untraced and then traced with the same seed, and prints:
the per-layer metrics; the per-layer table (spans, total and self seconds of
each layer, and Spark job time by the graft module that submitted the jobs);
for query workloads, each op's latency split into build, plan and exec; and
the tracing overhead, traced wall_s minus untraced wall_s. The spans, the
table and the per-op rows stay in the trace file under .bench_build/traces/.
"""
import argparse
import glob
import json
import os
import subprocess
import sys

import run


def one(workload, seed, seconds, trace):
    cmd = [sys.executable, os.path.join(run.HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    res = subprocess.run(cmd, capture_output=True, text=True)
    if res.returncode != 0:
        sys.stderr.write(res.stderr)
        sys.exit(f"trace: run failed: {' '.join(cmd)}")
    stem = f"{workload}-seed{seed}-trace{trace}-"
    newest = max(glob.glob(os.path.join(run.BUILD, "runs", stem + "*.json")), key=os.path.getmtime)
    with open(newest) as fh:
        return json.load(fh), newest


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=run.WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int,
                    default=json.load(open(os.path.join(run.ROOT, "BENCHMARK.json")))["run_seconds"])
    a = ap.parse_args()
    plain, _ = one(a.workload, a.seed, a.seconds, 0)
    traced, path = one(a.workload, a.seed, a.seconds, 1)
    with open(path.replace(os.sep + "runs" + os.sep, os.sep + "traces" + os.sep)) as fh:
        detail = json.load(fh)
    wall = lambda r: next(m["value"] for m in r["end_to_end"] if m["name"] == "wall_s")  # noqa: E731
    print(f"# {a.workload} seed={a.seed}: {traced['attempted']} ops, {traced['failed']} failed")
    print("\n## per-layer metrics")
    for m in traced["per_layer"]:
        print(f"{m['name']:30s} {m['value']:>14.6g} {m['unit']}")
    print("\n## layers (timed ops only)")
    print(f"{'layer':24s} {'spans':>6s} {'total_s':>10s} {'self_s':>10s}")
    for row in detail["layers"]:
        print(f"{row['layer']:24s} {row['spans']:>6d} {row['total_s']:>10.3f} {row['self_s']:>10.3f}")
    ops = [o for o in detail["ops"] if o["name"].startswith(("query/", "funnel/"))]
    if ops:
        print("\n## ops")
        print(f"{'op':40s} {'latency':>8s} {'build':>8s} {'plan':>8s} {'exec':>8s} {'jobs':>5s}")
        for o in ops:
            print(f"{o['name']:40s} {o['latency_s']:>8.3f} {o['build_s']:>8.3f} "
                  f"{o['plan_s']:>8.3f} {o['exec_s']:>8.3f} {o['jobs']:>5d}")
    w0, w1 = wall(plain), wall(traced)
    print(f"\ntracing overhead: wall_s {w0:.3f} untraced, {w1:.3f} traced, "
          f"{w1 - w0:+.3f} s ({(w1 - w0) / w0:+.1%}; one pair, within run-to-run noise "
          f"unless larger than the wall_s spread)")
    print(f"trace file: {os.path.relpath(path, run.ROOT)}")


if __name__ == "__main__":
    main()
