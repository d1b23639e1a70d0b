#!/usr/bin/env python3
"""Parent-vs-change comparison by the benchmark's own rules.

    python3 perfbench/compare.py --parent <checkout> --change <checkout> \\
        [--pairs 10] [--seed0 1000] [--workloads a,b] [--claim workload:metric ...]

Both checkouts must carry the same perfbench/ (the benchmark code may not
change between the two sides). For each workload it runs --pairs pairs of
untraced runs, alternating which side runs first, with one fresh seed per
pair (both sides of a pair get the same seed), then prints one row per
workload and end-to-end metric:

- each side's median and quartiles over its runs;
- for a claimed gain (--claim): "gain" only if the change wins at least 9
  of every 10 pairs (ties count for neither side) and the medians differ by
  more than the parent's interquartile range; otherwise "not shown";
- for every other metric: "regressed" if the change's median is worse than
  the parent's by more than the metric's bound in BENCHMARK.json;
  "unresolved" if either side's spread (IQR / median) is wider than the
  bound, unless every change run beats every parent run; else "ok".

Exit code 1 if any row regressed or a claimed gain was not shown.
"""
import argparse
import hashlib
import json
import os
import statistics
import subprocess
import sys


def tree_hash(path):
    h = hashlib.sha256()
    for d, dirs, files in os.walk(path):
        dirs[:] = sorted(x for x in dirs if x != "target")  # sbt's own build output
        for f in sorted(files):
            if f.endswith((".py", ".scala", ".sbt", ".properties", ".json")):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, path).encode())
                h.update(open(p, "rb").read())
    return h.hexdigest()


def run(checkout, workload, seed, seconds):
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "0"],
        cwd=checkout, capture_output=True, text=True)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        sys.exit(f"{checkout}: {workload} seed {seed} failed:\n{out.stderr[-2000:]}")
    r = json.loads(lines[-1])
    if not r["correct"]:
        print(f"warning: {checkout} {workload} seed {seed}: {r['failed']} failed ops",
              file=sys.stderr)
    return {k: v["value"] for k, v in r["metrics"].items()}


def quartiles(xs):
    q = statistics.quantiles(xs, n=4)
    return q[0], statistics.median(xs), q[2]


def verdict(m, par, chg, claimed):
    """One metric's verdict from paired runs (par[i], chg[i] share a seed)."""
    sign = 1 if m["better"] == "higher" else -1
    p1, pm, p3 = quartiles(par)
    c1, cm, c3 = quartiles(chg)
    if claimed:
        wins = sum(1 for p, c in zip(par, chg) if sign * (c - p) > 0)
        ok = wins >= 0.9 * len(par) and sign * (cm - pm) > (p3 - p1)
        return ("gain" if ok else "not shown"), f"wins {wins}/{len(par)}"
    worse = -sign * (cm - pm) / pm if pm else 0.0
    if worse > m["bound"]:
        return "regressed", f"worse by {worse:.1%}"
    spreads = [(p3 - p1) / pm if pm else 0.0, (c3 - c1) / cm if cm else 0.0]
    if max(spreads) > m["bound"]:
        all_better = all(sign * (c - p) > 0 for c in chg for p in par)
        if not all_better:
            return "unresolved", f"spread {max(spreads):.1%} > bound {m['bound']:.0%}"
    return "ok", f"{-worse:+.1%}"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1000)
    ap.add_argument("--workloads")
    ap.add_argument("--claim", action="append", default=[],
                    help="workload:metric the change claims to improve")
    a = ap.parse_args()
    if a.pairs < 10:
        sys.exit("at least 10 pairs are needed")
    if tree_hash(os.path.join(a.parent, "perfbench")) != \
            tree_hash(os.path.join(a.change, "perfbench")):
        sys.exit("the two checkouts carry different benchmark code")
    bench = json.load(open(os.path.join(a.change, "BENCHMARK.json")))
    workloads = a.workloads.split(",") if a.workloads else [w["name"] for w in bench["workloads"]]
    claims = {tuple(c.split(":", 1)) for c in a.claim}
    failed = False
    for w in workloads:
        par, chg = [], []
        for i in range(a.pairs):
            seed = a.seed0 + i
            sides = [(a.parent, par), (a.change, chg)]
            for checkout, acc in (sides if i % 2 == 0 else sides[::-1]):
                acc.append(run(checkout, w, seed, bench["run_seconds"]))
        print(f"\n== {w} ({a.pairs} pairs)")
        for m in bench["end_to_end"]:
            n = m["name"]
            p = [r[n] for r in par]
            c = [r[n] for r in chg]
            v, why = verdict(m, p, c, (w, n) in claims)
            failed |= v in ("regressed", "not shown")
            pq, cq = quartiles(p), quartiles(c)
            print(f"{n:18s} {m['unit']:>5s}  parent {pq[1]:10.3f} [{pq[0]:.3f}, {pq[2]:.3f}]"
                  f"  change {cq[1]:10.3f} [{cq[0]:.3f}, {cq[2]:.3f}]  {v:10s} {why}")
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
