#!/usr/bin/env python3
"""Runs one lakebench workload and prints its result JSON as the last line.

    python3 lakebench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The library and the benchmark are compiled
from source (lakebench/build.sh) into .bench_build/lakebench/classes when
their sources changed since the last build. Each run is one fresh JVM; its
inputs live under .bench_build/lakebench/work and are deleted afterwards,
and its full record (per-statement timings, input sizes, host-speed
witnesses) is written under .bench_build/lakebench/results.

Environment: SPARK_HOME (else found from spark-submit on PATH);
LAKEBENCH_SF_DIR, the sf0.1 test tables for query_headline (default
~/testdata/sf0.1).
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

WORKLOADS = ("lake_read_10k", "lake_write_10k", "query_headline")
BENCH = os.path.relpath(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(".bench_build", "lakebench")
CLASSES = os.path.join(OUT, "classes")
# JVM flags Spark needs on JDK 17 outside spark-submit (as build.sbt sets)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
HEAP = "2g"
RUN_TIMEOUT_S = 170


def die(msg):
    print(f"lakebench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            die("set SPARK_HOME")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    return home


def source_stamp():
    h = hashlib.sha256()
    files = [os.path.join(BENCH, "build.sh")]
    for top in ("src/main/scala", os.path.join(BENCH, "src")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    for f in sorted(files):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    stamp = source_stamp()
    stamp_file = os.path.join(OUT, "classes.stamp")
    if os.path.isdir(CLASSES) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                return
    os.makedirs(OUT, exist_ok=True)
    r = subprocess.run(["bash", os.path.join(BENCH, "build.sh"), CLASSES],
                       stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        die("build failed")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isdir("src/main/scala"):
        die("run from the repository root (no src/main/scala here)")
    build()

    sf_dir = os.environ.get("LAKEBENCH_SF_DIR",
                            os.path.join(os.path.expanduser("~"), "testdata", "sf0.1"))
    tag = f"{a.workload}_seed{a.seed}_trace{a.trace}_{int(time.time() * 1000)}"
    work = os.path.abspath(os.path.join(OUT, "work", tag))
    record = os.path.join(OUT, "results", tag + ".json")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = (["java", "-XX:-UsePerfData"] + [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS] + [
        f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work}/tmp",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", f"{CLASSES}:{spark_home()}/jars/*", "lakebench.Main",
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--work", work, "--out", record, "--sf-dir", sf_dir,
        "--oracle", os.path.join(BENCH, "oracle_sf0.1.json")])
    try:
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=sys.stderr,
                           text=True, timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        die(f"run exceeded {RUN_TIMEOUT_S} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = r.stdout.splitlines()
    for line in lines[:-1]:
        print(line, file=sys.stderr)
    if r.returncode != 0 or not lines:
        die(f"run failed (exit {r.returncode})")
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        die("malformed result line")
    print(f"lakebench: full record in {record}", file=sys.stderr)
    print(lines[-1])


if __name__ == "__main__":
    main()
