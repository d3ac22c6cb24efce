#!/usr/bin/env python3
"""Steadiness check: runs the benchmark in sets of seeded runs on one
commit and compares the figures against the bounds in BENCHMARK.json.

    python3 perfbench/steadiness.py [--runs 10] [--sets 2] [--seed0 1]
                                    [--workload NAME ...]

Each set runs every workload once per seed (seed0 .. seed0+runs-1).  For
every end-to-end metric it reports the median and the spread (distance
between the first and third quartile, as a share of the median).  It fails
when a spread exceeds the metric's bound, or when a
later set's median is worse than the first set's by more than the bound.
Raw results are appended to perfbench/.work/steadiness.jsonl.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)


def run(spec, workload, seed):
    t0 = time.time()
    cmd = spec["command"] + ["--workload", workload, "--seed", str(seed),
                             "--seconds", str(spec["run_seconds"]),
                             "--trace", "0"]
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                       stderr=subprocess.DEVNULL, text=True)
    lines = p.stdout.strip().splitlines()
    res = json.loads(lines[-1]) if lines else None
    if p.returncode != 0 or not res or not res["correct"] or res["failed"]:
        sys.exit("run failed: %s seed %d (exit %d): %s"
                 % (workload, seed, p.returncode, res))
    res["wall_s"] = round(time.time() - t0, 1)
    return res


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--workload", action="append")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    workloads = a.workload or [w["name"] for w in spec["workloads"]]
    metrics = spec["end_to_end"]
    log = os.path.join(BENCH, ".work", "steadiness.jsonl")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    values = {}  # (set, workload, metric) -> [values]
    for s in range(a.sets):
        for seed in range(a.seed0, a.seed0 + a.runs):
            for w in workloads:
                res = run(spec, w, seed)
                with open(log, "a") as f:
                    f.write(json.dumps({"set": s, "workload": w, "seed": seed,
                                        "result": res}) + "\n")
                for m in metrics:
                    values.setdefault((s, w, m["name"]), []).append(
                        res["metrics"][m["name"]]["value"])
    ok = True
    print("%-20s %-12s %4s %14s %8s %8s %s" % (
        "workload", "metric", "set", "median", "spread", "bound", "verdict"))
    for w in workloads:
        for m in metrics:
            first = None
            for s in range(a.sets):
                xs = values[(s, w, m["name"])]
                med = statistics.median(xs)
                q = statistics.quantiles(xs, n=4)
                spread = (q[2] - q[0]) / med
                verdict = []
                if spread > m["bound"]:
                    verdict.append("SPREAD")
                if first is None:
                    first = med
                else:
                    worse = ((med - first) / first if m["better"] == "lower"
                             else (first - med) / first)
                    verdict.append("drift %+.3f" % worse)
                    if worse > m["bound"]:
                        verdict.append("WORSE")
                if "SPREAD" in verdict or "WORSE" in verdict:
                    ok = False
                print("%-20s %-12s %4d %14.4f %8.4f %8.2f %s" % (
                    w, m["name"], s, med, spread, m["bound"],
                    " ".join(verdict) or "ok"))
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
