#!/usr/bin/env python3
"""The benchmark's own test.

  python3 enginebench/selftest.py [--seed N] [--seconds S] [WORKLOAD ...]

Runs each workload once (default: all, on seed 4242) and fails when
  - any op failed or returned a wrong result (failed_op_ratio > 0);
  - an op class drifts within the run: the median of its second half of
    samples over the median of its first half leaves [1/DRIFT, DRIFT].
    Growing metadata or history between maintenance cycles shows here;
  - a p90 is reported without ten samples beyond it, or withheld with.
"""
import argparse
import sys

import run

SEED = 4242
DRIFT = 1.25
MIN_SAMPLES = 10  # classes with fewer samples are too noisy to judge drift


def percentile_rule():
    """p90 exists exactly when at least ten samples lie beyond it."""
    errors = []
    for n in (1, 50, 99, 100, 101, 250):
        xs = [float(i) for i in range(n)]
        has = run.pct(xs, 0.9) is not None
        if has != (n * 0.1 >= 10 - 1e-9):
            errors.append(f"p90 of {n} samples {'reported' if has else 'withheld'}")
    return errors


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=SEED)
    ap.add_argument("--seconds", type=float, default=30)
    ap.add_argument("workloads", nargs="*", default=list(run.WORKLOADS))
    a = ap.parse_args()

    errors = percentile_rule()
    for w in a.workloads:
        res, lines, result = run.execute(w, a.seed, a.seconds, 0)
        print(f"== {w}\n" + "\n".join(lines))
        if not result["correct"]:
            errors.append(f"{w}: {result['failed']}/{result['attempted']} ops failed")
        for cls, c in res["classes"].items():
            r = c["half_ratio"]
            if len(c["samples_ms"]) >= MIN_SAMPLES and not (1 / DRIFT <= r <= DRIFT):
                errors.append(f"{w}: class {cls} drifts, second/first half median = {r:.3f}")
    print("\n".join(errors) if errors else "selftest: ok")
    sys.exit(1 if errors else 0)


if __name__ == "__main__":
    main()
