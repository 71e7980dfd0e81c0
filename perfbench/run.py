#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

Usage (from the repository root):

  python3 perfbench/run.py --workload queue_contended --seed 1 --seconds 12 --trace 0

--trace 0 prints the end-to-end metrics, --trace 1 the per-layer metrics of a
separate traced run (see perfbench/README.md). The program is built from
source first (perfbench/build.py). The JVM runs in a scratch directory under
.bench_work/ that is removed afterwards; its log is printed to stderr only
when it fails.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # keep the checkout free of __pycache__
import build  # noqa: E402

WORKLOADS = ("queue_contended", "queue_lifecycle", "corpus_dedup")
JVM_TIMEOUT_S = 170

# Spark 4 on JDK 17 needs these when the session is created outside
# spark-submit (the same list as build.sbt's javaOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    classes = build.build()
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    log_path = os.path.join(work, "jvm.log")
    out_path = os.path.join(work, "result.json")
    cmd = ["java", "-Xms2g", "-Xmx2g", "-Xmn600m", "-Xss4m", "-XX:+UseParallelGC",
           *[x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-Dspark.callstack.depth=120",
           "-cp", os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")]),
           "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work", work, "--out", out_path]
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT)
            try:
                code = proc.wait(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                code = "timeout"
        if code != 0 or not os.path.exists(out_path):
            with open(log_path, errors="replace") as f:
                sys.stderr.write(f.read()[-20000:])
            raise SystemExit(f"run: benchmark JVM failed ({code})")
        with open(out_path) as f:
            result = json.load(f)
    finally:
        if os.environ.get("PERFBENCH_KEEP_WORK") != "1":
            shutil.rmtree(work, ignore_errors=True)
    # the workload's own metric names (README.md maps them to the generic
    # names of BENCHMARK.json), then the result line
    print(json.dumps({"workload": args.workload, "named": result.pop("named")}))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
