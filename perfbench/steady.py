#!/usr/bin/env python3
"""Steadiness check: runs one workload as two sets of runs, each run
on its own seed, and reports every end-to-end metric's median,
quartiles and spread (distance between the quartiles, as a share of
the median) per set, the drift between the two sets' medians, and the
share of failed operations. The bounds in BENCHMARK.json are set from
this output.

    python3 perfbench/steady.py --workload adhoc [--runs 10] [--sets 2]
        [--first-seed 1]

Each run measures BENCHMARK.json's run_seconds; each run's line also
gives its wall time from start to result (run_s).
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def one_run(workload, seed, seconds):
    t0 = time.time()
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       stdout=subprocess.PIPE, text=True)
    if r.returncode != 0:
        sys.exit(f"run {workload} seed {seed} exited {r.returncode}")
    return dict(json.loads(r.stdout.strip().splitlines()[-1]), run_s=round(time.time() - t0, 1))


def summary(values):
    q1, _, q3 = statistics.quantiles(values, n=4)
    return {"median": statistics.median(values), "q1": q1, "q3": q3,
            "spread": (q3 - q1) / statistics.median(values)}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--first-seed", type=int, default=1)
    a = ap.parse_args()
    spec = json.load(open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")))
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    sets = []
    seed = a.first_seed
    for s in range(a.sets):
        results = []
        for _ in range(a.runs):
            res = one_run(a.workload, seed, spec["run_seconds"])
            seed += 1
            results.append(res)
            print(json.dumps({"set": s, "seed": seed - 1, **res}), flush=True)
        sets.append(results)
    for k, results in enumerate(sets):
        shares = sorted({r["failed"] / r["attempted"] for r in results})
        print(f"set {k}: correct {all(r['correct'] for r in results)}, "
              f"failed shares {shares}, run time max {max(r['run_s'] for r in results)} s "
              f"mean {statistics.mean(r['run_s'] for r in results):.1f} s")
    for n in sets[0][0]["metrics"]:
        stats = [summary([r["metrics"][n]["value"] for r in results]) for results in sets]
        meds = [st["median"] for st in stats]
        drift = (max(meds) - min(meds)) / min(meds)
        for k, st in enumerate(stats):
            print(f"{a.workload:9s} {n:14s} set {k}  median {st['median']:.4g}  "
                  f"q1 {st['q1']:.4g}  q3 {st['q3']:.4g}  spread {st['spread']:.3f}")
        print(f"{a.workload:9s} {n:14s} drift {drift:.3f}  bound {bounds.get(n)}")


if __name__ == "__main__":
    main()
