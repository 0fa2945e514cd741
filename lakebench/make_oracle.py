#!/usr/bin/env python3
"""Writes lakebench/oracle_sf0.1.json: digests of the DuckDB oracle's
answers to SparkEntry.oracleSql for the query_headline queries.

    python3 lakebench/make_oracle.py [sf_dir]

Run from the repository root after one benchmark run has built
.bench_build/lakebench/classes. The digest is the one ResultDigest
computes on the Spark side: columns sorted by name, cells rendered
canonically (doubles by their IEEE-754 bits, -0.0 as 0.0), one MD5 per
row, and the MD5 of the sorted row digests. It never reads Spark's
answers; it is made from the oracle SQL and the parquet files alone.
"""
import hashlib
import json
import math
import os
import struct
import subprocess
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402  (reuses the runner's paths)

TABLES = ["region", "nation", "customer", "supplier", "orders", "lineitem", "events"]


def cell(v):
    if v is None:
        return "N"
    if isinstance(v, bool):
        return "b" + ("true" if v else "false")
    if isinstance(v, int):
        return "i" + str(v)
    if isinstance(v, float):
        if math.isnan(v):
            bits = 0x7ff8000000000000
        else:
            bits = struct.unpack(">Q", struct.pack(">d", 0.0 if v == 0.0 else v))[0]
        return "d" + format(bits, "x")
    if isinstance(v, str):
        return "s" + v
    raise TypeError(f"no canonical form for {type(v).__name__}: {v!r}")


def digest(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    per_row = sorted(
        hashlib.md5("\x1f".join(cell(r[i]) for i in order).encode()).hexdigest()
        for r in rows)
    return len(per_row), hashlib.md5("\n".join(per_row).encode()).hexdigest()


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        os.path.expanduser("~"), "testdata", "sf0.1")
    cp = f"{run.CLASSES}:{run.spark_home()}/jars/*"
    sqls = json.loads(subprocess.run(
        ["java", "-XX:-UsePerfData", "-cp", cp, "lakebench.OracleSql"], check=True,
        stdout=subprocess.PIPE, text=True).stdout.splitlines()[-1])
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    out = {"input_bytes": {t: os.path.getsize(f"{sf_dir}/{t}.parquet") for t in TABLES},
           "duckdb": duckdb.__version__, "queries": {}}
    for name, sql in sorted(sqls.items()):
        rel = con.sql(sql)
        n, d = digest(rel.columns, rel.fetchall())
        out["queries"][name] = {"rows": n, "digest": d, "sql": sql}
        print(f"{name}: {n} rows {d}", file=sys.stderr)
    with open(os.path.join(run.BENCH, "oracle_sf0.1.json"), "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")


if __name__ == "__main__":
    main()
