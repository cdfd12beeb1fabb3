#!/usr/bin/env python3
"""End-to-end benchmark of the reconcile job, its repair commit and
MinHash-LSH dedup.

    python3 mvbench/run.py --workload recon_repair|dedup_lsh \
        --seed N --seconds S --trace 0|1

Builds the engine and the benchmark when their sources changed
(mvbench/build.py), then runs one fresh JVM that generates the seeded
inputs, times jobs for S seconds and checks their outputs. The last
line of standard output is the result object. Run from the repository
root; everything it writes stays under mvbench/.
"""
import argparse
import json
import os
import signal
import subprocess
import sys
import time

import build

WORKLOADS = ("recon_repair", "dedup_lsh")
# Spark 4 on JDK 17 outside spark-submit needs these module openings
# (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
HEAP = "3g"


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args()

    start = time.monotonic()
    built = build.build()
    limit = (880 if built else 170) - (time.monotonic() - start)

    cores = len(os.sched_getaffinity(0))
    work = os.path.join(build.BENCH, ".work")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    spans = os.path.join(build.BENCH, ".out",
                         f"spans-{a.workload}-seed{a.seed}.jsonl")
    cmd = ["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", build.CLASSES + ":" + os.path.join(build.spark_jars(), "*"),
            "mvbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--cores", str(cores), "--work", os.path.join(work, "run"),
            "--spans", spans]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=max(10.0, limit))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.exit(f"run: the benchmark JVM exceeded {limit:.0f} s")
    lines = out.strip().splitlines()
    for line in lines[:-1]:
        print(line)
    if proc.returncode != 0 or not lines:
        sys.exit(f"run: the benchmark JVM exited with {proc.returncode}")
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    print(json.dumps(result))


if __name__ == "__main__":
    main()
