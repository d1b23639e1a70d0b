#!/usr/bin/env python3
"""Per-phase Spark jobs of store_churn's write ops from kept traced runs,
parent and change side by side.

Usage: store_phases.py --parent RUN_DIR [RUN_DIR ...] --change RUN_DIR [RUN_DIR ...]

Each RUN_DIR is a directory `perfbench/run.py --workload store_churn
--trace 1 --keep` left behind (its path is the result's `detail.run_dir`).
The ops are read from RUN_DIR/work/ops.jsonl and their Spark jobs from
RUN_DIR/work/jobs.jsonl; only traced ops carry jobs, so only they count.
For each write kind it prints, per side, the ops pooled over the side's
runs, their median latency, the mean jobs per op and the median driver gap
(op time not covered by any of its jobs). Under it, one row per labelled
phase: the mean jobs and job milliseconds per op. A phase is a job
description (the engine's `Labeled` label) with its version numbers,
data dir names and counts taken out, so the phases of different commits
pool; jobs with no description are "(unlabelled)".
"""
import argparse
import collections
import json
import os
import re
import statistics
import sys

WRITE_KINDS = ("commit_delta", "ingest", "commit_remove", "merge_into",
               "consolidate", "vacuum")


def load(path):
    if not os.path.exists(path):
        sys.exit(f"{path}: missing (was the run traced and kept?)")
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def phase(desc):
    if not desc:
        return "(unlabelled)"
    p = re.sub(r"\b(b-\S+-)?v\d+-[0-9a-f]{8}(-dv)?\b", "DIR", desc)
    p = re.sub(r" v\d+:", ":", p)
    return re.sub(r"\b\d+\b", "N", p)


def union_ms(iv):
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(iv):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def side(run_dirs):
    """kind -> {"ms": [...], "jobs": [...], "gap": [...], "phases": {phase: [jobs, job_ms]}}"""
    out = collections.defaultdict(lambda: {"ms": [], "jobs": [], "gap": [],
                                           "phases": collections.defaultdict(lambda: [0, 0.0])})
    for d in run_dirs:
        ops = load(os.path.join(d, "work", "ops.jsonl"))
        jobs = collections.defaultdict(list)
        for j in load(os.path.join(d, "work", "jobs.jsonl")):
            jobs[j["op"]].append(j)
        for op in ops:
            if op["kind"] not in WRITE_KINDS or not op.get("traced") or not op.get("ok", True):
                continue
            k = out[op["kind"]]
            js = jobs.get(op["id"], [])
            k["ms"].append(op["ms"])
            k["jobs"].append(len(js))
            k["gap"].append(op["ms"] - union_ms([(j["start_ms"], j["end_ms"]) for j in js]))
            for j in js:
                acc = k["phases"][phase(j["desc"])]
                acc[0] += 1
                acc[1] += j["end_ms"] - j["start_ms"]
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--parent", nargs="+", required=True)
    ap.add_argument("--change", nargs="+", required=True)
    a = ap.parse_args()
    par, chg = side(a.parent), side(a.change)
    print(f"{len(a.parent)} parent runs, {len(a.change)} change runs; traced write ops; "
          "per op: mean jobs and job ms, median op ms and driver gap ms")
    print("{:48} {:^24}   {:^24}".format("", "parent", "change"))
    print("{:48} {:>4} {:>6} {:>6} {:>6}   {:>4} {:>6} {:>6} {:>6}".format(
        "kind / phase", "ops", "jobs", "ms", "gap", "ops", "jobs", "ms", "gap"))

    def head(k):
        if not k["ms"]:
            return "{:>4} {:>6} {:>6} {:>6}".format(0, "-", "-", "-")
        return "{:>4} {:>6.2f} {:>6.0f} {:>6.0f}".format(
            len(k["ms"]), statistics.mean(k["jobs"]), statistics.median(k["ms"]),
            statistics.median(k["gap"]))

    def row(k, ph):
        n = len(k["ms"])
        if not n or ph not in k["phases"]:
            return "{:>4} {:>6} {:>6} {:>6}".format("", "-", "-", "")
        jobs, ms = k["phases"][ph]
        return "{:>4} {:>6.2f} {:>6.0f} {:>6}".format("", jobs / n, ms / n, "")

    for kind in WRITE_KINDS:
        p, c = par.get(kind), chg.get(kind)
        if not p and not c:
            continue
        empty = {"ms": [], "jobs": [], "gap": [], "phases": {}}
        p, c = p or empty, c or empty
        print(f"{kind:48} {head(p)}   {head(c)}")
        phases = set(p["phases"]) | set(c["phases"])
        for ph in sorted(phases, key=lambda x: -max(p["phases"].get(x, [0, 0.0])[1],
                                                   c["phases"].get(x, [0, 0.0])[1])):
            print(f"  {ph[:46]:46} {row(p, ph)}   {row(c, ph)}")


if __name__ == "__main__":
    main()
