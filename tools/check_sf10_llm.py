#!/usr/bin/env python3
"""sf10 multiset correctness for the top-10 LLM rows (r18 VERDICT task 1).

r18 changed the dedup candidate semantics (over-cap bucket TRUNCATION,
ring-successor edges, exact contain scoring) and updated the DuckDB
oracle twins in lockstep — but the lockstep was hash-proven only at
sf0.01/sf1, and sf10 (500k docs, 100 near-dup variants per original) is
the density where the over-cap code paths actually fire. This harness
runs graft.Verify for the TOP10 LLM rows against /tmp/graft_sf10 and
multiset-compares each against its oracle SQL in DuckDB, using the exact
EXCEPT-ALL-both-directions method of tools/check_sf1.py.

Usage: python3 tools/check_sf10_llm.py [--no-verify]
Writes CORRECTNESS_SF10_LLM.json in the repo root. A twin/engine
divergence at density exits 1 (loud). NOT part of the shipped library;
driver-side python only. Never run sbt concurrently (shared lock).
"""
import json, os, subprocess, sys, time
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).parent))
from bench_sf1_llm import TOP10  # noqa: E402

SF_DIR = "/tmp/graft_sf10"
OUT_DIR = "/tmp/verify_sf10_llm"
BOARD = Path(__file__).resolve().parent.parent / "CORRECTNESS_SF10_LLM.json"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def run_verify():
    env = dict(os.environ, SPARK_GRAFT_CPUS="32",
               SPARK_GRAFT_VERIFY_ONLY=",".join(TOP10),
               # r20: the forked Verify JVM sizes its heap from
               # SPARK_DRIVER_MEM (build.sbt javaOptions), not SBT_OPTS —
               # without it the fork runs at the 8g default and OOMs on
               # the sf10 pipeline checkpoints (same lesson as
               # bench_sf10.py's bench() env)
               SPARK_DRIVER_MEM="96g",
               SBT_OPTS="-Xmx8g -XX:+UseG1GC")
    cmd = ["sbt", f'runMain graft.Verify {SF_DIR} {OUT_DIR}']
    t0 = time.time()
    r = subprocess.run(cmd, cwd="/root/repo", capture_output=True, text=True,
                       env=env)
    if r.returncode != 0:
        print(r.stdout[-8000:]); print(r.stderr[-4000:]); sys.exit(1)
    print(f"[verify] graft.Verify TOP10 @ sf10 done in "
          f"{time.time() - t0:.0f}s")


def compare(name, con, sql):
    t0 = time.time()
    spark_dir = Path(OUT_DIR) / name
    if not list(spark_dir.glob("*.parquet")):
        return "MISSING spark output", None, None, 0.0
    try:
        orel = con.sql(sql)
        ocols = sorted(orel.columns)
    except Exception as e:
        return f"ORACLE ERROR: {str(e).splitlines()[0]}", None, None, 0.0
    srel = con.sql(f"SELECT * FROM read_parquet('{spark_dir}/*.parquet')")
    scols = sorted(srel.columns)
    if scols != ocols:
        return f"SCHEMA MISMATCH spark={scols} oracle={ocols}", None, None, 0.0
    proj = ", ".join(f'"{c}"' for c in scols)
    con.sql(f"CREATE OR REPLACE TEMP VIEW __o AS SELECT {proj} FROM ({sql})")
    con.sql(f"CREATE OR REPLACE TEMP VIEW __s AS SELECT {proj} "
            f"FROM read_parquet('{spark_dir}/*.parquet')")
    # multiset equality via per-row md5 count-vectors: EXACT up to md5
    # collision (the driver's own gate is hash-based), and the grouped
    # 32-byte hashes spill orders of magnitude less than EXCEPT ALL over
    # wide rows — the r19 first attempt filled 46 GB of DuckDB temp on
    # q_llm_pipeline_e2e's sf10 output
    rowh = ("md5(concat_ws('\\x1f', " +
            ", ".join(f'coalesce(CAST("{c}" AS VARCHAR), \'\\x00NULL\')'
                      for c in scols) + "))")
    try:
        # materialize each side's hash-groups ONCE — the oracle twin at
        # sf10 is expensive (the naive count+diff+diff shape recomputed
        # it three times and overflowed the box's disk with join spill)
        con.sql(f"CREATE OR REPLACE TEMP TABLE __sh AS "
                f"SELECT {rowh} AS h, count(*) AS c FROM __s GROUP BY 1")
        con.sql(f"CREATE OR REPLACE TEMP TABLE __oh AS "
                f"SELECT {rowh} AS h, count(*) AS c FROM __o GROUP BY 1")
        sn = con.sql("SELECT coalesce(sum(c), 0) FROM __sh").fetchone()[0]
        on = con.sql("SELECT coalesce(sum(c), 0) FROM __oh").fetchone()[0]
        if sn != on:
            return f"ROWCOUNT spark={sn} oracle={on}", sn, on, time.time() - t0
        diff = con.sql(
            "SELECT count(*) FROM ("
            "(SELECT h, c FROM __sh EXCEPT SELECT h, c FROM __oh)"
            " UNION ALL "
            "(SELECT h, c FROM __oh EXCEPT SELECT h, c FROM __sh))"
        ).fetchone()[0]
        if diff:
            sample = con.sql(
                f"SELECT * FROM __s WHERE {rowh} IN (SELECT h FROM "
                f"(SELECT h, c FROM __sh EXCEPT SELECT h, c FROM __oh)) "
                f"LIMIT 3").fetchall()
            return f"{diff} multiset hash-group diffs; spark-side sample " \
                f"{sample}", sn, on, time.time() - t0
    except Exception as e:
        return f"COMPARE ERROR: {str(e).splitlines()[0]}", None, None, \
            time.time() - t0
    return None, int(sn), int(on), time.time() - t0


def main():
    if not Path(SF_DIR, "documents.parquet").exists():
        print(f"{SF_DIR} missing — run tools/bench_sf10.py generate first")
        sys.exit(1)
    if "--no-verify" not in sys.argv:
        run_verify()
    con = duckdb.connect()
    con.sql("SET threads TO 32")
    con.sql("SET memory_limit='96GB'")
    con.sql("SET temp_directory='/tmp/duck_spill'")
    for t in TABLES:
        p = f"{SF_DIR}/{t}.parquet"
        if Path(p).exists():
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracle_sql = json.loads(Path(OUT_DIR, "oracle_sql.json").read_text())
    board, n_pass, n_fail = {}, 0, 0

    # r20: write the board INCREMENTALLY (cheapest-first, by measured sf1
    # compare cost) so a long DuckDB twin cannot leave the round with no
    # artifact; the file carries partial=True until the last row lands.
    cost_order = ["q_llm_segment_dedup", "q_llm_source_overlap",
                  "q_llm_dedup_incremental", "q_llm_dedup_ngram",
                  "q_llm_dedup_contain", "q_llm_split_leakfree",
                  "q_llm_dedup_keep_best", "q_llm_pipeline_e2e",
                  "q_llm_dedup_cluster", "q_llm_copy_detect"]
    ordered = [q for q in cost_order if q in TOP10] + \
        [q for q in TOP10 if q not in cost_order]

    def write_board(partial):
        out = {"sf": SF_DIR, "docs": 500000, "partial": partial,
               "n_done": len(board), "n_total": len(ordered),
               "method": "duckdb multiset (md5 row-hash count-vectors, "
               "EXCEPT both directions) + rowcount at sf10 density where "
               "the r18 truncate/ring/exact-contain paths fire; "
               "order/type-lint driver-checked at sf0.01",
               "pass": n_pass, "fail": n_fail, "queries": board}
        BOARD.write_text(json.dumps(out, indent=1, sort_keys=True))

    for name in ordered:
        if name not in oracle_sql:
            n_fail += 1
            board[name] = {"hash_match": False, "err": "NO ORACLE SQL"}
            print(f"FAIL {name}: no oracle sql")
            write_board(True)
            continue
        err, sn, on, secs = compare(name, con, oracle_sql[name])
        if err:
            n_fail += 1
            print(f"FAIL {name}: {err[:300]}")
            board[name] = {"rows_match": sn == on if sn is not None else False,
                           "schema_match": not err.startswith("SCHEMA"),
                           "hash_match": False, "spark_rows": sn,
                           "oracle_rows": on, "err": err[:500],
                           "sec": round(secs, 2)}
        else:
            n_pass += 1
            print(f"pass {name} ({sn} rows, {secs:.1f}s)")
            board[name] = {"rows_match": True, "schema_match": True,
                           "hash_match": True, "spark_rows": sn,
                           "oracle_rows": on, "err": None,
                           "sec": round(secs, 2)}
        write_board(True)
    write_board(False)
    print("wrote CORRECTNESS_SF10_LLM.json")
    print(f"\n{n_pass} pass / {n_fail} fail")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
