#!/usr/bin/env python3
"""Run one lake-benchmark workload N times and report how steady each metric is.

Usage, from the root of a checkout:

    python3 lakebench/steady.py --workload churn --runs 10 [--first-seed 1]
                                [--seconds 10]

Run i uses seed first_seed + i, untraced. For every metric the runs
print (the gated ones of the result line and the workload-specific
`metric` lines) it prints the median, the quartiles
(statistics.quantiles, n=4), and the spread (q3 - q1) / median next to
the bound BENCHMARK.json gives it. It also prints each run's wall
time, its failed share, and whether every run's checks passed. The exit code is 1 if a run failed or a gated
spread exceeds its bound.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", type=float)
    a = ap.parse_args()

    bench = {}
    bench_file = os.path.join(ROOT, "BENCHMARK.json")
    if os.path.exists(bench_file):
        with open(bench_file) as f:
            bench = json.load(f)
    seconds = a.seconds if a.seconds is not None else bench.get("run_seconds", 10)
    bounds = {m["name"]: m.get("bound") for m in bench.get("end_to_end", [])}

    values, units, shares, ok = {}, {}, set(), True
    for i in range(a.runs):
        seed = a.first_seed + i
        t0 = time.time()
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
             "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
            cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        wall = time.time() - t0
        lines = p.stdout.strip().splitlines()
        try:
            result = json.loads(lines[-1])
        except (IndexError, ValueError):
            print(f"seed {seed}: no result (exit {p.returncode})")
            ok = False
            continue
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])
            units[name] = m["unit"]
        for line in lines:
            parts = line.split()
            if len(parts) == 4 and parts[0] == "metric" and parts[1] not in result["metrics"]:
                values.setdefault(parts[1], []).append(float(parts[2]))
                units[parts[1]] = parts[3]
        share = result["failed"] / result["attempted"]
        shares.add(share)
        ok &= result["correct"] and p.returncode == 0
        print(f"seed {seed}: {wall:6.1f} s wall, correct={result['correct']}, "
              f"attempted={result['attempted']}, failed={result['failed']} ({share:.6f})",
              flush=True)

    print(f"\n{'metric':<28} {'unit':<8} {'median':>12} {'q1':>12} {'q3':>12} "
          f"{'spread':>7} {'bound':>6}")
    for name, vs in values.items():
        med = statistics.median(vs)
        q1, _, q3 = statistics.quantiles(vs, n=4) if len(vs) > 1 else (vs[0], 0, vs[0])
        spread = (q3 - q1) / med if med else float("inf")
        bound = bounds.get(name)
        flag = ""
        if bound is not None:
            flag = "ok" if spread <= bound / 3 else ("within" if spread <= bound else "TOO WIDE")
            if spread > bound:
                ok = False
        print(f"{name:<28} {units[name]:<8} {med:12.4f} {q1:12.4f} {q3:12.4f} "
              f"{spread:7.3f} {bound if bound is not None else '':>6} {flag}")
    print(f"\nfailed shares seen: {sorted(shares)}")
    if len(shares) > 1:
        ok = False
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
