#!/usr/bin/env python3
"""Trace report: where each workload's op time goes, from one traced run.

    python3 perfbench/trace_report.py [--workloads a,b] [--seed 1] [--seconds N]

Runs the benchmark traced (--trace 1) for each workload and prints, from the
run's own artifacts (spans.jsonl and jobs.jsonl, written by the driver):

- per-layer self time: each span's duration minus what its child spans
  cover, summed per layer, per op;
- the tracing overhead (traced minus untraced median op latency);
- attribution coverage: the share of each op's wall time covered by its
  Spark jobs and the named spans inside its root span (mean and minimum
  over the traced ops, and per op kind);
- per op kind: wall time, Spark jobs, job-accounted time and the driver gap;
- the Spark job table by job description (the engine labels its internal
  phases), with counts, time and tasks.
"""
import argparse
import collections
import json
import os
import shutil
import subprocess
import sys


def load(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


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


def report(workload, seed, seconds):
    out = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                          "--seed", str(seed), "--seconds", str(seconds), "--trace", "1",
                          "--keep"], capture_output=True, text=True)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or len(lines) < 2:
        sys.exit(f"{workload}: traced run failed:\n{out.stderr[-2000:]}")
    detail = json.loads(lines[-2])["detail"]
    metrics = {k: v["value"] for k, v in json.loads(lines[-1])["metrics"].items()}
    work = os.path.join(detail["run_dir"], "work")
    try:
        spans = load(os.path.join(work, "spans.jsonl"))
        jobs = load(os.path.join(work, "jobs.jsonl"))
    finally:
        shutil.rmtree(detail["run_dir"], ignore_errors=True)

    roots = {s["op"]: s for s in spans if s["parent"] == 0}
    n = max(len(roots), 1)
    child_ms = collections.Counter()
    for s in spans:
        if s["parent"]:
            child_ms[s["parent"]] += (s["end_ns"] - s["start_ns"]) / 1e6
    self_ms = collections.Counter()
    for s in spans:
        if s["op"] in roots:
            self_ms[s["layer"]] += max(0.0, (s["end_ns"] - s["start_ns"]) / 1e6 - child_ms[s["id"]])
    wall = sum((r["end_ns"] - r["start_ns"]) / 1e6 for r in roots.values())

    print(f"\n== {workload} (seed {seed}, {len(roots)} traced ops)")
    print(f"tracing overhead: {metrics.get('trace.overhead_pct', 0.0):+.1f}% of the median op")
    print(f"coverage by jobs and spans inside the op: "
          f"mean {metrics.get('trace.coverage_mean', 0.0):.1%}, "
          f"min {metrics.get('trace.coverage_min', 0.0):.1%}")
    print("\nlayer self time per op")
    for layer, ms in self_ms.most_common():
        print(f"  {layer:12s} {ms / n:10.1f} ms  {ms / wall if wall else 0:6.1%}")

    by_kind = collections.defaultdict(list)
    for op, r in roots.items():
        by_kind[r["name"]].append(r)
    jobs_by_op = collections.defaultdict(list)
    for j in jobs:
        jobs_by_op[j["op"]].append(j)
    coverage = detail["workload_metrics"]
    print("\nop kind            ops    wall ms   jobs    job ms    gap ms  coverage")
    for kind, rs in sorted(by_kind.items()):
        w = j = jm = 0.0
        for r in rs:
            t0, t1 = r["start_ns"] / 1e6, r["end_ns"] / 1e6
            w += t1 - t0
            js = jobs_by_op[r["op"]]
            j += len(js)
            # listener times are epoch ms; a span's are nanoTime: compare lengths only
            jm += union_ms([(x["start_ms"], x["end_ms"]) for x in js])
        k = len(rs)
        cov = coverage.get(f"trace.coverage.{kind}", 0.0)
        print(f"  {kind:16s} {k:4d} {w / k:10.1f} {j / k:6.1f} {jm / k:9.1f} {(w - jm) / k:9.1f}"
              f"  {cov:8.1%}")

    table = collections.defaultdict(lambda: [0, 0.0, 0])
    for x in jobs:
        if x["op"] in roots:
            d = x["desc"] or "(unlabelled)"
            table[d][0] += 1
            table[d][1] += x["end_ms"] - x["start_ms"]
            table[d][2] += x["tasks"]
    print("\nSpark jobs by description (traced ops)        jobs     ms  tasks")
    for d, (c, ms, t) in sorted(table.items(), key=lambda kv: -kv[1][1])[:25]:
        print(f"  {d[:44]:44s} {c:5d} {ms:6.0f} {t:6d}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int)
    a = ap.parse_args()
    bench = json.load(open("BENCHMARK.json"))
    names = a.workloads.split(",") if a.workloads else [w["name"] for w in bench["workloads"]]
    for w in names:
        report(w, a.seed, a.seconds or bench["run_seconds"])


if __name__ == "__main__":
    main()
