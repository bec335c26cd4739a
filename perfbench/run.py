#!/usr/bin/env python3
"""Benchmark command: one workload, one seed, one JVM.

Usage (from the repository root):
  python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds the product and the benchmark (perfbench/build.py), then runs
perfbench.Main on a local[2] Spark session in a work directory under
.bench_build/work, which is deleted afterwards. Prints the workload's
own figures (rows_per_s, query_p95_s, ... with sample counts) and, as the last
line, the result object: with --trace 0 every end_to_end metric of
BENCHMARK.json, with --trace 1 every per_layer metric. Traced runs also
leave their spans (.spans.jsonl) and per-span self times (.layers.tsv)
in .bench_build/traces.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("ingest_parquet", "ops_inventory")
CPUS = 2
HEAP = "3g"
MIN_FREE_BYTES = 2 << 30
JVM_TIMEOUT_S = 165
# Spark on JDK 17 outside spark-submit needs the module openings that
# spark-submit would add (the same list as build.sbt's javaOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    sys.stderr.write(f"perfbench: {msg}\n")
    sys.exit(1)


def java_cmd(classes, jars, work, main_class, main_args):
    """The JVM command line for `main_class`, with every directory Spark,
    Derby and the JVM write to placed under `work`."""
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    props = {
        "spark.ui.enabled": "false",
        "spark.sql.session.timeZone": "UTC",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "derby.system.home": os.path.join(work, "derby"),
        "java.io.tmpdir": os.path.join(work, "tmp"),
    }
    for k in ("spark-local", "warehouse", "derby", "tmp"):
        os.makedirs(os.path.join(work, k), exist_ok=True)
    return (["java", f"-Xmx{HEAP}", "-XX:-UsePerfData"] + opens +
            [f"-D{k}={v}" for k, v in props.items()] +
            ["-cp", os.pathsep.join([classes, os.path.join(jars, "*")]),
             main_class] + main_args)


def run_jvm(root, classes, jars, main_args, tag):
    """Runs perfbench.Main in a fresh work directory; returns its stdout lines.
    The work directory, and the scratch root the product keys by process id,
    are removed whether or not the run succeeds."""
    base = os.path.join(root, build.OUT)
    work = os.path.join(base, "work", f"{tag}-{os.getpid()}")
    logs = os.path.join(base, "logs")
    os.makedirs(logs, exist_ok=True)
    os.makedirs(os.path.join(base, "traces"), exist_ok=True)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    log_path = os.path.join(logs, f"{tag}.log")
    cmd = java_cmd(classes, jars, work, "perfbench.Main",
                   main_args + ["--work", os.path.join(work, "run"),
                                "--traces", os.path.join(base, "traces"), "--cpus", str(CPUS)])
    proc = None
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, cwd=root, stdout=subprocess.PIPE, stderr=log,
                                    stdin=subprocess.DEVNULL, text=True)
            try:
                out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.communicate()
                fail(f"JVM exceeded {JVM_TIMEOUT_S} s (log: {log_path})")
        if proc.returncode != 0:
            with open(log_path) as fh:
                sys.stderr.write(fh.read()[-4000:])
            fail(f"JVM exited with {proc.returncode} (log: {log_path})")
        return out.strip().splitlines()
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if proc is not None:
            shutil.rmtree(f"/tmp/graft_run_{proc.pid}", ignore_errors=True)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    if a.seconds < 1:
        fail("--seconds must be at least 1")

    root = os.getcwd()
    spec_path = os.path.join(root, "BENCHMARK.json")
    if not os.path.isfile(spec_path):
        fail("BENCHMARK.json not found: run from the repository root")
    spec = json.load(open(spec_path))
    try:
        classes, jars = build.build(root)
    except RuntimeError as e:
        fail(f"build: {e}")
    free = shutil.disk_usage(root).free
    if free < MIN_FREE_BYTES:
        fail(f"only {free >> 20} MB free; a run needs {MIN_FREE_BYTES >> 20} MB")

    t0 = time.time()
    main_args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                 "--trace", a.trace, "--expected",
                 os.path.join(root, "perfbench", "expected_counts.tsv")]
    lines = run_jvm(root, classes, jars, main_args, f"{a.workload}-{a.seed}-t{a.trace}")
    if len(lines) < 2:
        fail("JVM printed no result")
    detail, result = json.loads(lines[-2]), json.loads(lines[-1])
    raw = result["metrics"]

    declared = spec["per_layer"] if a.trace == "1" else spec["end_to_end"]
    names = {m["name"] for m in declared}
    unknown = sorted(set(raw) - names)
    if unknown:
        fail(f"JVM reported undeclared metrics: {', '.join(unknown)}")
    missing = sorted(names - set(raw))
    if missing and a.trace == "0":
        fail(f"JVM did not report: {', '.join(missing)}")
    if missing:
        sys.stderr.write("perfbench: layers this workload does not call, reported as 0: "
                         f"{', '.join(missing)}\n")
    metrics = {m["name"]: {"value": raw.get(m["name"], 0.0), "unit": m["unit"]}
               for m in declared}
    detail["wall_s"] = round(time.time() - t0, 3)
    print(json.dumps(detail))
    print(json.dumps({"correct": result["correct"], "attempted": result["attempted"],
                      "failed": result["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
