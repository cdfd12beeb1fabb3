#!/usr/bin/env python3
"""Run the benchmark over several seeds and print, per workload and
metric, the median and the spread (distance between the first and third
quartile as a share of the median), next to the bound in BENCHMARK.json.

    python3 mvbench/figures.py --seeds 1-10 [--workloads recon_repair,dedup_lsh]
        [--trace 0|1] [--log FILE]

Runs one after another, never in parallel. Run from the repository root.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def main():
    bench = json.load(open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")))
    p = argparse.ArgumentParser()
    p.add_argument("--seeds", default="1-10", help="first-last, inclusive")
    p.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--log", help="append every run's full output here")
    a = p.parse_args()
    lo, hi = (int(x) for x in a.seeds.split("-"))
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    for w in a.workloads.split(","):
        results = []
        for seed in range(lo, hi + 1):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                   "--seed", str(seed), "--seconds", str(bench["run_seconds"]),
                   "--trace", str(a.trace)]
            r = subprocess.run(cmd, capture_output=True, text=True)
            if a.log:
                with open(a.log, "a") as fh:
                    fh.write(f"== {w} {seed} exit {r.returncode}\n{r.stdout}")
            if r.returncode != 0:
                sys.exit(f"{w} seed {seed} failed:\n{r.stderr[-2000:]}")
            results.append(json.loads(r.stdout.strip().splitlines()[-1]))
        ok = all(r["correct"] for r in results)
        att = sum(r["attempted"] for r in results)
        bad = sum(r["failed"] for r in results)
        print(f"{w}: {len(results)} runs, correct {ok}, failed {bad}/{att}")
        for name in results[0]["metrics"]:
            v = [r["metrics"][name]["value"] for r in results]
            med = statistics.median(v)
            q = statistics.quantiles(v, n=4) if len(v) > 1 else [med, med, med]
            spread = (q[2] - q[0]) / med if med else 0.0
            bound = bounds.get(name)
            print(f"  {name:26s} median {med:14.4f}  spread {spread:6.3f}" +
                  (f"  bound {bound}" if bound is not None else ""))


if __name__ == "__main__":
    main()
