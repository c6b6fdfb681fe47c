#!/usr/bin/env python3
"""The benchmark's own test: its checks pass on a run's outputs read
against the drop the run used, and fail when the same outputs are
read against another drop, the way a stale or cached answer from
another drop would be.

    python3 perfbench/selftest.py [--workload pipeline|adhoc]

Exits 0 when every workload's checks behave; runs in a private
directory under perfbench/runs/ that it removes at the end.
"""
import argparse
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import checks  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402


def outcomes(workload, run_dir, seed):
    drops = run.drops_for(seed, run_dir, 1)
    _, out = run.run_harness(workload, 0, run_dir, drops)
    other = os.path.join(run_dir, "drops", "other")
    gen.generate(other, seed + 99991, run.SF)
    right = checks.check(workload, out, lambda note: note["drop"])
    wrong = checks.check(workload, out, lambda note: other)
    return right, wrong


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=["pipeline", "adhoc"])
    a = ap.parse_args()
    run.build()
    ok = True
    for w in [a.workload] if a.workload else ["pipeline", "adhoc"]:
        run_dir = os.path.join(HERE, "runs", f"selftest-{w}-{os.getpid()}")
        os.makedirs(run_dir)
        try:
            right, wrong = outcomes(w, run_dir, 424242)
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)
        print(f"{w}: own drop -> {len(right)} failures; another drop -> {len(wrong)} failures")
        for f in right:
            print(f"  unexpected: {f}")
        for f in wrong[:8]:
            print(f"  expected:   {f}")
        ok &= not right and bool(wrong)
    print("selftest", "passed" if ok else "FAILED")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
