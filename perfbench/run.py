#!/usr/bin/env python3
"""Run one benchmark workload against the engine built from this checkout.

    python3 perfbench/run.py --workload etl_mix --seed 1 --seconds 20 --trace 0

Builds the engine and the benchmark with sbt on first use (the classpath
is cached under perfbench/target and rebuilt when a source is newer),
runs the workload in one JVM on local[<cores>], checks its outputs, prints
every metric by name and unit, and ends with one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones in BENCHMARK.json;
with --trace 1 they are the per-layer ones. Exits non-zero, without the
JSON line, when the build fails, the run fails or a check fails.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("etl_mix", "analytic_batch")
CLASSPATH = os.path.join(HERE, "target", "runtime-classpath.txt")
DEADLINE_S = 175  # the whole invocation, build excluded
HEAP = "3g"

# Spark on JDK 17 outside spark-submit needs the module opens that
# spark-submit would add (the engine's build sets the same list).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def newest_source_mtime():
    newest = 0.0
    trees = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
             os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for t in trees:
        for d, dirs, fs in os.walk(t):
            dirs[:] = [x for x in dirs if x not in ("target", "project")]
            files.extend(os.path.join(d, f) for f in fs)
    for f in files:
        if os.path.isfile(f):
            newest = max(newest, os.path.getmtime(f))
    return newest


def ensure_built():
    if os.path.isfile(CLASSPATH) and os.path.getmtime(CLASSPATH) >= newest_source_mtime():
        return
    log = os.path.join(HERE, "target", "build.log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    with open(log, "w") as out:
        try:
            rc = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                cwd=HERE, stdout=out, stderr=subprocess.STDOUT, timeout=850).returncode
        except subprocess.TimeoutExpired:
            fail("build timed out", 3)
    if rc != 0 or not os.path.isfile(CLASSPATH):
        fail(f"build failed (see {os.path.relpath(log, ROOT)})", 3)


def java_bin():
    home = os.environ.get("JAVA_HOME")
    if home and os.path.isfile(os.path.join(home, "bin", "java")):
        return os.path.join(home, "bin", "java")
    return "java"


def run_jvm(args, work, cores, budget_s):
    with open(CLASSPATH) as f:
        cp = f.read().strip()
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # -XX:-UsePerfData: no hsperfdata file in the system temp dir; every
    # other temp file follows java.io.tmpdir into the work dir
    cmd = [java_bin(), f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           *opens, "-cp", cp, "perfbench.Runner",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work", work, "--cores", str(cores)]
    with open(os.path.join(work, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=budget_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail("workload run timed out", 4)
    if rc != 0:
        fail(f"workload JVM exited with {rc} (see {os.path.relpath(log.name, ROOT)})", 4)


def oracle_check(work):
    """Replay the dumped analytic queries' oracle SQL in DuckDB."""
    data = os.path.join(work, "data_r2")
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "verify_local.py"), data,
         os.path.join(work, "verify")],
        capture_output=True, text=True, timeout=120)
    bad = [l for l in proc.stdout.splitlines() if l.startswith("FAIL")]
    summary = proc.stdout.strip().splitlines()[-1] if proc.stdout.strip() else ""
    print(f"oracle: {summary}")
    if proc.returncode != 0 and not bad:
        bad = [f"verify_local exited {proc.returncode}: {proc.stderr.strip()[-300:]}"]
    return bad


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    for need in ("build.sbt", os.path.join("src", "main", "scala"),
                 os.path.join("tools", "verify_local.py")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} not found: run from a checkout of the engine's repository")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    ensure_built()
    start = time.time()
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}_t{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cores = len(os.sched_getaffinity(0))
    run_jvm(args, work, cores, DEADLINE_S - 45)

    with open(os.path.join(work, "result.json")) as f:
        res = json.load(f)
    errors = list(res["errors"])
    if args.workload == "analytic_batch":
        errors += oracle_check(work)

    info = res["info"]
    print(f"workload {args.workload} seed {args.seed} cores {cores} "
          f"closed loop, 1 client, {args.seconds:g} s; ops {info['ops']} "
          f"({info['timed_ops']} timed) by kind {info['ops_by_kind']}")
    for section in ("e2e", "per_layer"):
        for name, m in res[section].items():
            print(f"  {section:9s} {name:40s} {m['value']!s:>24} {m['unit']}")
    for e in errors:
        print(f"CHECK FAILED: {e}")
    wall = time.time() - start
    print(f"run took {wall:.1f} s")

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    source = res["per_layer"] if args.trace else res["e2e"]
    metrics = {}
    for m in wanted:
        got = source.get(m["name"])
        if got is None or got["value"] is None:
            fail(f"metric {m['name']} missing from the run's result", 5)
        metrics[m["name"]] = {"value": got["value"], "unit": m["unit"]}
    if errors or res["correct"] is not True:
        fail("correctness check failed", 1)
    print(json.dumps({"correct": True, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
