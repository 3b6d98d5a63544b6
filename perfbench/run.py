#!/usr/bin/env python3
"""Serving benchmark of the code-graph server.

Run from the repository root:

    python3 perfbench/run.py --workload browse-small --seed 1 --seconds 10 --trace 0

Builds the server and the harness (perfbench/build.sh) when their sources
changed, runs one workload in one JVM, and prints the result as the last line
of standard output: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end ones of BENCHMARK.json; with
--trace 1 a separate traced run reports the per-layer ones. --smoke runs a
tiny input for the benchmark's own checks. Everything is built and written
under .bench_build/ in the current directory. See perfbench/NOTES.md.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("browse-small", "browse-large", "history")
# Spark 4 on JDK 17 outside spark-submit needs the module opens that
# org.apache.spark.launcher.JavaModuleOptions lists.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
RUN_TIMEOUT_S = 170


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs, for checking the benchmark itself")
    a = ap.parse_args()
    if a.seconds < 1:
        fail("--seconds must be at least 1")

    out = ".bench_build"
    build = subprocess.run(["bash", os.path.join(HERE, "build.sh"), out])
    if build.returncode != 0:
        fail("build failed")

    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}{'-smoke' if a.smoke else ''}"
    work = os.path.abspath(os.path.join(out, "work", tag))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    spark_jars = os.path.join(env.get("SPARK_HOME", ""), "jars", "*")
    cmd = (["java"] + [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS] +
           # -XX:-UsePerfData: no hsperfdata file under the system /tmp
           ["-Xmx4g", "-XX:-UsePerfData", "-Dspark.ui.enabled=false",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-cp", os.pathsep.join([os.path.join(out, "harness"),
                                    os.path.join(out, "main"), spark_jars]),
            "perfbench.Harness", "--workload", a.workload,
            "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace,
            "--work", work,
            "--record", os.path.join(out, "records", tag + ".json")] +
           (["--smoke"] if a.smoke else []))
    try:
        proc = subprocess.run(cmd, env=env, stdout=subprocess.PIPE, text=True,
                              timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        fail(f"harness exited with {proc.returncode}")
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail(f"malformed result {lines[-1]}")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
