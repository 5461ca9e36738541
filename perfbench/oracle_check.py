#!/usr/bin/env python3
"""Check a batch workload's results, and so its expected fingerprints,
against the DuckDB oracle.

Usage (from the root of a checkout):
    python3 perfbench/oracle_check.py --workload <batch workload>

Runs the workload's queries once (run.py --dump), which also checks every
result's fingerprint against perfbench/expected/<workload>.json, then runs
each query's oracle statement (graft.SparkEntry.oracleSql) in DuckDB over
the same data and compares the two results with the canonicalization of
tools/verify_local.py (sorted columns, sorted rows, bit-exact values). Writes perfbench/expected/<workload>.oracle.json and
exits 1 on any mismatch.
"""
import argparse
import json
import os
import subprocess
import sys

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, os.path.join(ROOT, "tools"))
import duckdb  # noqa: E402
from verify_local import TABLES, canon  # noqa: E402


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    a = ap.parse_args()
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
                        "--seed", "1", "--seconds", "1", "--trace", "0", "--dump"],
                       cwd=ROOT, capture_output=True, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-3000:])
        sys.exit("dump run failed")
    with open(p.stdout.strip().splitlines()[-1]) as fh:
        run = json.load(fh)["run"]
    data, dump = run["data_dir"], run["dump"]
    with open(os.path.join(dump, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    con = duckdb.connect()
    con.execute("SET max_expression_depth TO 10000")
    for t in TABLES:
        if os.path.exists(f"{data}/{t}.parquet"):
            con.execute(f"create view {t} as select * from read_parquet('{data}/{t}.parquet/**/*.parquet')"
                        if os.path.isdir(f"{data}/{t}.parquet") else
                        f"create view {t} as select * from read_parquet('{data}/{t}.parquet')")
    status, bad = {}, 0
    for q, fp in sorted(run["fingerprints"].items()):
        if fp.get("check") != "ok":
            status[q] = f"FAIL: fingerprint {fp.get('check', fp.get('error'))}"
            bad += 1
            continue
        if q not in oracle:
            status[q] = "fingerprint ok; no oracle statement"
            continue
        got = con.execute(f"select * from read_parquet('{dump}/{q}/*.parquet')")
        g = canon(got.fetchall(), [d[0] for d in got.description])
        want = con.execute(oracle[q])
        w = canon(want.fetchall(), [d[0] for d in want.description])
        if g == w:
            status[q] = f"fingerprint ok; oracle ok ({len(g[1])} rows)"
        else:
            status[q] = f"FAIL: oracle mismatch ({len(g[1])} vs {len(w[1])} rows)"
            bad += 1
        print(f"{q}: {status[q]}")
    with open(os.path.join(HERE, "expected", f"{a.workload}.oracle.json"), "w") as fh:
        json.dump({"workload": a.workload, "queries": status}, fh, indent=1, sort_keys=True)
        fh.write("\n")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
