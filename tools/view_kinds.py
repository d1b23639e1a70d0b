#!/usr/bin/env python3
"""Per-kind view_requests latencies from kept benchmark runs, parent and
change side by side.

Usage: view_kinds.py --parent RUN_DIR [RUN_DIR ...] --change RUN_DIR [RUN_DIR ...]

Each RUN_DIR is a directory `perfbench/run.py --workload view_requests
--keep` left behind (its path is the result's `detail.run_dir`); the timed
ops are read from RUN_DIR/work/ops.jsonl. For each op kind (plain, paged,
invalid) it pools the ops of every run on a side and prints their count,
median and p89 latency in ms (p89 is the workload's tail quantile, with the
benchmark's linear interpolation), then the change's median relative to the
parent's.
"""
import argparse
import json
import os
import statistics
import sys

KINDS = ("plain", "paged", "invalid")
TAIL = 0.89


def quantile(xs, q):
    s = sorted(xs)
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def latencies(run_dirs):
    by_kind = {k: [] for k in KINDS}
    for d in run_dirs:
        path = os.path.join(d, "work", "ops.jsonl")
        if not os.path.exists(path):
            sys.exit(f"{d}: no work/ops.jsonl (was the run kept with --keep?)")
        with open(path) as f:
            for line in f:
                op = json.loads(line)
                by_kind.setdefault(op["kind"], []).append(op["ms"])
    return by_kind


def summary(xs):
    if not xs:
        return "{:>5} {:>9} {:>9}".format(0, "-", "-")
    return "{:>5} {:>9.1f} {:>9.1f}".format(len(xs), statistics.median(xs), quantile(xs, TAIL))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--parent", nargs="+", required=True)
    ap.add_argument("--change", nargs="+", required=True)
    a = ap.parse_args()
    par, chg = latencies(a.parent), latencies(a.change)
    print(f"{len(a.parent)} parent runs, {len(a.change)} change runs; latencies in ms")
    print("{:8} {:^25}   {:^25}".format("", "parent", "change"))
    print("{:8} {:>5} {:>9} {:>9}   {:>5} {:>9} {:>9}   {:>8}".format(
        "kind", "n", "median", "p89", "n", "median", "p89", "median Δ"))
    def order(k):
        return (KINDS.index(k) if k in KINDS else len(KINDS), k)
    for k in sorted(set(par) | set(chg), key=order):
        p, c = par.get(k, []), chg.get(k, [])
        rel = (f"{statistics.median(c) / statistics.median(p) - 1:+.1%}"
               if p and c else "-")
        print(f"{k:8} {summary(p)}   {summary(c)}   {rel:>8}")


if __name__ == "__main__":
    main()
