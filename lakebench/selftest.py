#!/usr/bin/env python3
"""Negative control for the lake benchmark's checks.

Usage, from the root of a checkout:

    python3 lakebench/selftest.py

Runs every workload once, with seed 1 and `--inject 1`, which gives
that workload's checker one wrong expectation:

- scan_ladder expects the time-travel read one snapshot too late;
- churn leaves the first MOR delete out of its model;
- pipeline_dedup drops one planted exact-duplicate pair from what it
  expects the pipeline to remove.

Each run must report `"correct": false`; otherwise the check could pass
vacuously. Exit code 0 when every workload's check failed as it should.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ["scan_ladder", "churn", "pipeline_dedup"]


def main():
    ok = True
    for w in WORKLOADS:
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", w, "--seed",
             "1", "--seconds", "1", "--trace", "0", "--inject", "1"],
            cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
        try:
            correct = json.loads(p.stdout.strip().splitlines()[-1])["correct"]
        except (IndexError, ValueError, KeyError):
            print(f"{w}: no result (exit {p.returncode})")
            ok = False
            continue
        caught = [l for l in p.stderr.splitlines() if "CHECK FAILED" in l]
        print(f"{w}: correct={correct}, {len(caught)} failed checks"
              + (f", first: {caught[0].split('CHECK FAILED: ', 1)[1][:160]}" if caught else ""))
        ok &= correct is False
    print("negative control: " + ("every check caught its wrong expectation" if ok else "FAILED"))
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
