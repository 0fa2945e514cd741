#!/usr/bin/env python3
"""Benchmark-local test of lakebench.

    python3 lakebench/test_lakebench.py [workload ...]

For each workload (default: all three), from the repository root:
  1. two traced runs with the same seed must report identical exact-count
     witnesses (xlsx calls, dirty sheets, workbook bytes read and written,
     Spark jobs, stages and tasks per statement);
  2. the traced run must show the baseline shape: a read-only lake
     statement makes exactly one readAll, one readSheet and no write; a
     lake write makes at least one write; query_headline makes no xlsx call;
  3. an untraced run with a second seed, under a German default locale,
     must pass every correctness check and print a result line whose
     metrics are exactly BENCHMARK.json's end_to_end set, each with its
     unit.
Exits non-zero on the first failure.
"""
import json
import os
import re
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
SPEC = json.load(open(os.path.join(BENCH, "..", "BENCHMARK.json")))
WITNESS = re.compile(r"(\.calls_per_stmt|^xlsx\.sheets_dirty_per_stmt|^xlsx\.(read_all|write)\.bytes_per_stmt"
                     r"|^spark\.(jobs|jobs_in_build|stages|tasks)_per_stmt)$")


def run(workload, seed, trace, env=None):
    r = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", str(trace)],
        stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        env=dict(os.environ, **(env or {})))
    if r.returncode != 0:
        sys.exit(f"FAIL {workload} seed {seed}: exit {r.returncode}\n{r.stderr[-3000:]}")
    return json.loads(r.stdout.splitlines()[-1])


def check(cond, msg):
    if not cond:
        sys.exit(f"FAIL {msg}")
    print(f"ok   {msg}")


def main():
    workloads = sys.argv[1:] or [w["name"] for w in SPEC["workloads"]]
    for w in workloads:
        a, b = run(w, 7, 1), run(w, 7, 1)
        check(a["correct"] and b["correct"], f"{w}: traced runs correct")
        wa = {k: v["value"] for k, v in a["metrics"].items() if WITNESS.search(k)}
        wb = {k: v["value"] for k, v in b["metrics"].items() if WITNESS.search(k)}
        check(len(wa) == 11 and wa == wb, f"{w}: witnesses identical {wa}")
        check(set(a["metrics"]) == {m["name"] for m in SPEC["per_layer"]},
              f"{w}: traced metrics are the per_layer set")
        m = {k: v["value"] for k, v in a["metrics"].items()}
        xlsx_calls = sum(v for k, v in m.items() if k.startswith("xlsx.") and k.endswith(".calls_per_stmt"))
        if w == "lake_read_10k":
            check(m["xlsx.read_all.calls_per_stmt"] == 1 and m["xlsx.read_sheet.calls_per_stmt"] == 1
                  and m["xlsx.write.calls_per_stmt"] == 0, f"{w}: one readAll, one readSheet, no write")
        elif w == "lake_write_10k":
            check(m["xlsx.write.calls_per_stmt"] >= 1, f"{w}: every statement writes")
        else:
            check(xlsx_calls == 0, f"{w}: no xlsx call")

        c = run(w, 8, 0, {"JAVA_TOOL_OPTIONS": "-Duser.language=de -Duser.country=DE"})
        check(c["correct"] and c["failed"] == 0 and c["attempted"] >= 1, f"{w}: second seed correct")
        units = {e["name"]: e["unit"] for e in SPEC["end_to_end"]}
        check({k: v["unit"] for k, v in c["metrics"].items()} == units,
              f"{w}: untraced metrics are the end_to_end set with units")
        check(all(v["value"] > 0 for v in c["metrics"].values()), f"{w}: no end-to-end metric is 0")


if __name__ == "__main__":
    main()
