#!/usr/bin/env python3
"""Re-runs the benchmark's steadiness check.

    python3 graftbench/steadiness.py [--runs 10] [--first-seed 1]
                                     [workload ...]

Runs graftbench/run.py once per seed (first-seed, first-seed+1, ...) on each
workload, untraced, one run at a time. For every end-to-end metric it prints
the median and the spread: the distance between the first and third
quartiles of the runs' values (Python's statistics.quantiles, n=4) as a
share of their median, beside the metric's bound from BENCHMARK.json. It
also prints each run's wall time, the share of failed operations, and
whether every run's output checks passed. Run it from the root of a
checkout.
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
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("workloads", nargs="*",
                    default=[w["name"] for w in bench["workloads"]])
    a = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    for w in a.workloads:
        values, walls, failed, correct = {}, [], set(), True
        for seed in range(a.first_seed, a.first_seed + a.runs):
            t0 = time.time()
            p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                                "--workload", w, "--seed", str(seed),
                                "--seconds", str(bench["run_seconds"]), "--trace", "0"],
                               cwd=ROOT, stdout=subprocess.PIPE,
                               stderr=subprocess.DEVNULL, text=True)
            walls.append(time.time() - t0)
            if p.returncode != 0:
                print(f"{w} seed {seed}: exit code {p.returncode}")
                correct = False
                continue
            res = json.loads(p.stdout.strip().splitlines()[-1])
            correct &= res["correct"]
            failed.add(res["failed"] / res["attempted"])
            for k, v in res["metrics"].items():
                values.setdefault(k, []).append(v["value"])
            print(f"{w} seed {seed}: {walls[-1]:.1f} s, " + ", ".join(
                f"{k} {v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
        print(f"== {w}: {len(walls)} runs, wall {sum(walls):.0f} s "
              f"(max {max(walls):.1f} s), correct {correct}, failed shares {sorted(failed)}")
        for k, vs in values.items():
            med = statistics.median(vs)
            q1, _, q3 = statistics.quantiles(vs, n=4)
            print(f"   {k:18s} median {med:10.4f}  spread {(q3 - q1) / med:6.3f}"
                  f"  bound {bounds.get(k, float('nan')):.2f}")


if __name__ == "__main__":
    main()
