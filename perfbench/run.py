#!/usr/bin/env python3
"""The ubwspark benchmark: one command per workload run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine from the
checkout's sources together with the harness (perfbench/build.sbt, outputs
under .bench_build/); later runs reuse the build while the sources are
unchanged. Each run generates its inputs from --seed (gen.py), drives one
JVM with one local Spark session (perfbench.Main), checks the outputs
(check.py and the driver's own model checks) and prints, as its last stdout
line, one JSON object: correct, attempted, failed and metrics — the
end-to-end metrics of BENCHMARK.json untraced, its per-layer metrics traced.
A line before it carries the run's detail: workload properties, the
workload's own named metrics, and the failures seen.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "target", "scala-2.13", "classes")
SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
RUN_LIMIT_S = 170  # after the build: a run must end within 180 s
# gen.py repetitions (identical inputs each time; set-up time is their median)
GEN_REPS = 2
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

sys.path.insert(0, HERE)
import check  # noqa: E402
import gen  # noqa: E402


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile engine + harness with sbt when the sources changed."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die(f"no engine sources under {ROOT}/src/main/scala; run from a checkout root")
    if not os.path.isdir(SPARK_JARS):
        die("SPARK_HOME must name a Spark distribution (its jars/ directory)")
    stamp_file = os.path.join(BUILD, "build.stamp")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp \
            and os.path.isdir(CLASSES):
        return
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile"],
                           cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                           timeout=840)
    if r.returncode != 0:
        sys.stderr.write(open(log).read()[-4000:])
        die("build failed")
    with open(stamp_file, "w") as f:
        f.write(stamp)


def generate(workload, seed, inputs):
    """GEN_REPS generations from one seed: times and content digests."""
    times, digests, props = [], set(), None
    for _ in range(GEN_REPS):
        t0 = time.perf_counter()
        props = gen.generate(workload, seed, inputs)
        times.append(time.perf_counter() - t0)
        digests.add(gen.tree_digest(inputs))
    return times, len(digests) == 1, props


def run_jvm(workload, inputs, work, seconds, trace, deadline):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    out = os.path.join(work, "result.json")
    opens = [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # C1 only, compiling after a tenth of its default call counts: with C2,
    # request and op latency keep falling for minutes (still -40% after 400
    # view requests) while compiler threads compete for the cores, so a run
    # measured a point on that curve whose place depended on the CPU the
    # host gave it. At C1's default thresholds the store's first timed cycle
    # still ran 20% slower than its second; at these, the warm-ups cover the
    # fall. The heap is fixed, so it never resizes.
    cmd = ["java", "-Xms3g", "-Xmx3g", "-XX:TieredStopAtLevel=1",
           "-XX:Tier3InvocationThreshold=20", "-XX:Tier3MinInvocationThreshold=10",
           "-XX:Tier3CompileThreshold=200", "-XX:Tier3BackEdgeThreshold=6000", *opens,
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Dspark.local.dir={work}/tmp", f"-Djava.io.tmpdir={work}/tmp",
           f"-Dspark.sql.warehouse.dir={work}/spark-warehouse",
           "-cp", f"{CLASSES}:{SPARK_JARS}/*", "perfbench.Main",
           "--workload", workload, "--inputs", inputs, "--work", work,
           "--seconds", str(seconds), "--trace", str(trace),
           "--cpus", str(min(os.cpu_count(), 4)),
           "--out", out]
    with open(os.path.join(work, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=max(deadline - time.time(), 1))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            die("the driver JVM did not finish in time")
    if rc != 0 or not os.path.exists(out):
        sys.stderr.write(open(os.path.join(work, "jvm.log")).read()[-4000:])
        die(f"the driver JVM exited with {rc}")
    with open(out) as f:
        return json.load(f)


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(gen.GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--keep", action="store_true", help="keep the run directory")
    a = ap.parse_args()
    bench = spec()
    build()
    deadline = time.time() + RUN_LIMIT_S

    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    inputs, work = os.path.join(run_dir, "inputs"), os.path.join(run_dir, "work")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(work)
    try:
        gen_times, gen_identical, props = generate(a.workload, a.seed, inputs)
        r = run_jvm(a.workload, inputs, work, a.seconds, a.trace, deadline)
        failures = list(r["failures"])
        failed = r["failed"]
        if not gen_identical:
            failed += 1
            failures.append("the same seed generated different inputs")
        checked = 0
        if a.trace == 0 and a.workload in check.CHECKS:
            checked, fs = check.CHECKS[a.workload](inputs, work)
            failed += len(fs)
            failures += fs
        attempted = r["attempted"] + checked
        setup_s = statistics.median(gen_times) + r["session_s"] + r["setup_s"]
        m = dict(r["metrics"], setup_s=setup_s)
        names = bench["per_layer"] if a.trace else bench["end_to_end"]
        metrics = {x["name"]: {"value": float(m.get(x["name"], 0.0)), "unit": x["unit"]}
                   for x in names}
        detail = {
            "workload": a.workload, "seed": a.seed, "trace": a.trace,
            "properties": dict(props, **r["properties"]),
            "ops": r["ops"], "tail_quantile": r["tail_quantile"],
            "ops_failed_ratio": failed / max(attempted, 1),
            "setup": {"gen_s": gen_times, "session_s": r["session_s"],
                      "jvm_setup_s": r["setup_s"]},
            "jvm_phase_s": r["phase_s"], "jvm_finish_s": r["finish_s"],
            "workload_metrics": {k: v for k, v in m.items() if k not in metrics},
            "failures": failures[:20],
        }
        if a.keep:
            detail["run_dir"] = run_dir
        print(json.dumps({"detail": detail}, sort_keys=True))
        print(json.dumps({"correct": failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
    finally:
        if not a.keep:
            shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
