#!/usr/bin/env python3
"""Round-close bench protocol (VERDICT r12 task 6).

Runs the full graft.Bench, archives EVERY run under bench_archive/, and
guarantees that the BENCH_LOCAL.json a naive reader opens at HEAD is a
HEALTHY run (host_health.degraded == false) whenever one was achieved:

  1. run `sbt "runMain graft.Bench"` (full board) up to --max-attempts
     times, archiving each as bench_archive/BENCH_LOCAL_<tag>_run<i>.json;
  2. stop early on the first non-degraded run;
  3. write the run with the LOWEST floor_ratio to BENCH_LOCAL.json,
     stamped with a close_protocol block naming the archive it came from
     and every attempt's floor ratio (so a degraded close is loud).

Usage:  python3 tools/bench_close.py <tag> [--max-attempts N] [--sf DIR]

NOT part of the shipped library; driver-side helper. Never run sbt
concurrently with this script (shared project lock).
"""
import argparse
import json
import pathlib
import subprocess
import sys

REPO = pathlib.Path(__file__).resolve().parent.parent


def run_bench(sf_dir):
    out = "/tmp/bench_close_run.json"
    pathlib.Path(out).unlink(missing_ok=True)
    r = subprocess.run(
        ["sbt", "-batch", "runMain graft.Bench"],
        cwd=REPO, capture_output=True, text=True,
        env={**__import__("os").environ, "SPARK_GRAFT_SF_DIR": sf_dir,
             "SPARK_GRAFT_BENCH_OUT": out})
    if not pathlib.Path(out).exists():
        print(r.stdout[-4000:], file=sys.stderr)
        raise SystemExit("bench produced no output file")
    return json.loads(pathlib.Path(out).read_text())


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("tag")
    ap.add_argument("--max-attempts", type=int, default=3)
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--no-sf1", action="store_true",
                    help="skip the CORRECTNESS_SF1.json full-board refresh")
    ap.add_argument("--no-recall", action="store_true",
                    help="skip the sf1 recall-regression gate")
    a = ap.parse_args()

    arch = REPO / "bench_archive"
    arch.mkdir(exist_ok=True)
    attempts = []
    for i in range(1, a.max_attempts + 1):
        run = run_bench(a.sf)
        floor = run.get("host_health", {}).get("floor_ratio_vs_settled")
        degraded = run.get("host_health", {}).get("degraded", True)
        path = arch / f"BENCH_LOCAL_{a.tag}_run{i}.json"
        path.write_text(json.dumps(run, indent=1))
        attempts.append({"archive": path.name, "floor_ratio": floor,
                         "degraded": degraded,
                         "headline_sec": run.get("value")})
        print(f"run {i}: headline {run.get('value'):.3f} s, floor {floor}, "
              f"degraded={degraded} -> {path.name}")
        if not degraded:
            break
    best = min(attempts, key=lambda x: (x["degraded"], x["floor_ratio"] or 9e9))
    run = json.loads((arch / best["archive"]).read_text())
    run["close_protocol"] = {"picked": best["archive"], "attempts": attempts}
    (REPO / "BENCH_LOCAL.json").write_text(json.dumps(run, indent=1))
    print(f"BENCH_LOCAL.json <- {best['archive']} "
          f"(degraded={best['degraded']})")
    # r17 (VERDICT r16 task 4): CORRECTNESS_SF1.json can never go stale
    # again — the close protocol re-proves the FULL board at sf1 unless
    # explicitly skipped (--no-sf1).
    if not a.no_sf1:
        print("refreshing CORRECTNESS_SF1.json (full board at sf1)...")
        r = subprocess.run(
            [sys.executable, str(REPO / "tools" / "check_sf1.py")],
            cwd=REPO / "tools")
        if r.returncode != 0:
            raise SystemExit("check_sf1.py failed — CORRECTNESS_SF1 stale")
    # r18 (VERDICT r17 task 1): the 0-drift provenance invariant is part
    # of every close — re-prove EVERY differential fixture against real
    # DuckDB, all families, or fail the close loudly.
    print("re-verifying all differential fixtures against DuckDB...")
    import glob
    spec_files = sorted(
        glob.glob(str(REPO / "src/test/scala/graft/*DifferentialSpec.scala"))
    ) + [str(REPO / "src/test/scala/graft/KeyEquivSpec.scala")]
    r = subprocess.run(
        [sys.executable, str(REPO / "tools" / "diffgen.py"), "verify",
         *spec_files], cwd=REPO)
    if r.returncode != 0:
        raise SystemExit("diffgen verify failed — fixture drift at close")
    # r19 (VERDICT r18 task 2): recall-regression gate. SCALE.md §6.22's
    # ground-truth numbers were a one-shot measurement; any cap/band
    # tweak could silently regress them. Re-measure the sf1
    # configuration (corpus-linear) at every close and fail loudly if
    # any stream drops below its pinned floor (r18 measured sf1: word
    # 0.999960, contain 1.000000, ngram 0.997484).
    if not a.no_recall:
        recall_floors = {"word_minhash": 0.999, "contain": 0.9999,
                         "ngram_minhash": 0.995}
        print("recall-regression gate (graft.tools.RecallAudit @ sf1)...")
        if not pathlib.Path("/tmp/graft_sf1/documents.parquet").exists():
            raise SystemExit("/tmp/graft_sf1 missing — regenerate via "
                             "tools/bench_sf1.py before closing")
        env = {**__import__("os").environ,
               "SPARK_GRAFT_SF_DIR": "/tmp/graft_sf1"}
        r = subprocess.run([str(REPO / "tools" / "run_main.sh"),
                            "graft.tools.RecallAudit", "24g"],
                           capture_output=True, text=True, env=env)
        lines = [ln.split("RECALLAUDIT ", 1)[1]
                 for ln in r.stdout.splitlines() if "RECALLAUDIT " in ln]
        if r.returncode != 0 or not lines:
            print(r.stdout[-3000:], file=sys.stderr)
            print(r.stderr[-2000:], file=sys.stderr)
            raise SystemExit("RecallAudit failed to run at close")
        (arch / f"RECALL_{a.tag}_close_sf1.jsonl").write_text(
            "\n".join("RECALLAUDIT " + ln for ln in lines) + "\n")
        recall_block, bad = {}, []
        for ln in lines:
            d = json.loads(ln)
            s = d.get("stream")
            if s in recall_floors:
                recall_block[s] = {"recall": d["recall"],
                                   "floor": recall_floors[s],
                                   "true_pairs": d["true_pairs"]}
                if d["recall"] < recall_floors[s]:
                    bad.append(f"{s} recall {d['recall']} < floor "
                               f"{recall_floors[s]}")
            elif s == "cluster_coverage":
                recall_block[s] = {
                    "docs_with_true_word_pair": d["docs_with_true_word_pair"],
                    "docs_in_emitted_word_pairs":
                        d["docs_in_emitted_word_pairs"]}
                if d["docs_in_emitted_word_pairs"] < \
                        d["docs_with_true_word_pair"]:
                    bad.append(f"cluster coverage "
                               f"{d['docs_in_emitted_word_pairs']} < truth "
                               f"{d['docs_with_true_word_pair']}")
        missing = set(recall_floors) - set(recall_block)
        if missing:
            bad.append(f"streams missing from audit output: {missing}")
        run["close_protocol"]["recall"] = recall_block
        (REPO / "BENCH_LOCAL.json").write_text(json.dumps(run, indent=1))
        for s, v in recall_block.items():
            print(f"  {s}: {v}")
        if bad:
            raise SystemExit("RECALL REGRESSION at close: " +
                             "; ".join(bad))
    sys.exit(0 if not best["degraded"] else 2)


if __name__ == "__main__":
    main()
