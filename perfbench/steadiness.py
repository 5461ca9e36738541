#!/usr/bin/env python3
"""Steadiness of the benchmark: collect sets of runs, then compare two sets.

Collect a set (one run per seed, appended as JSON lines):
    python3 perfbench/steadiness.py collect --workload <name> --seeds 1-10 --out <set.jsonl>

Compare two sets of runs of one commit:
    python3 perfbench/steadiness.py compare <setA.jsonl> <setB.jsonl>

For each workload and end-to-end metric the report gives each set's median
and quartiles (statistics.quantiles(values, n=4)) and its spread, the
interquartile distance as a share of the median. A metric agrees when both
spreads are within its bound and the two medians differ, in either
direction, by at most the bound as a share of set A's median. A metric whose
spread exceeds its bound is reported as unresolved, not as agreeing. The exit code is 1 if any
metric disagrees or is unresolved.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def collect(a):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        seconds = json.load(fh)["run_seconds"]
    for s in seeds(a.seeds):
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
                            "--seed", str(s), "--seconds", str(seconds), "--trace", "0"],
                           cwd=ROOT, capture_output=True, text=True)
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or not lines:
            sys.stderr.write(p.stderr[-3000:])
            sys.exit(f"run failed: workload {a.workload} seed {s} (exit {p.returncode})")
        res = json.loads(lines[-1])
        with open(a.out, "a") as fh:
            fh.write(json.dumps({"workload": a.workload, "seed": s, "result": res}) + "\n")
        vals = " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items())
        print(f"{a.workload} seed {s}: correct={res['correct']} {vals}", flush=True)


def load(path):
    by = defaultdict(lambda: defaultdict(list))
    with open(path) as fh:
        for line in fh:
            if line.strip():
                r = json.loads(line)
                if not r["result"]["correct"]:
                    print(f"note: {path}: {r['workload']} seed {r['seed']} was not correct")
                for k, v in r["result"]["metrics"].items():
                    by[r["workload"]][k].append(v["value"])
    return by


def stats(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def compare(a):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        metrics = {m["name"]: m for m in json.load(fh)["end_to_end"]}
    sa, sb = load(a.set_a), load(a.set_b)
    bad = 0
    for wl in sorted(set(sa) | set(sb)):
        print(f"\n{wl}  (runs: A {len(next(iter(sa[wl].values()), []))}, "
              f"B {len(next(iter(sb[wl].values()), []))})")
        print(f"  {'metric':16s} {'A median':>10s} {'A q1..q3':>21s} {'A spr':>6s} "
              f"{'B median':>10s} {'B q1..q3':>21s} {'B spr':>6s} {'bound':>6s}  verdict")
        for name, m in metrics.items():
            va, vb = sa[wl].get(name, []), sb[wl].get(name, [])
            if len(va) < 2 or len(vb) < 2:
                print(f"  {name:16s} missing runs")
                bad += 1
                continue
            ma, qa1, qa3, spa = stats(va)
            mb, qb1, qb3, spb = stats(vb)
            bound = m["bound"]
            diff = (mb - ma) / ma
            if spa > bound or spb > bound:
                verdict = "UNRESOLVED (spread over bound)"
            elif abs(diff) > bound:
                verdict = f"DISAGREE (B median {100 * diff:+.1f}%)"
            else:
                verdict = "agree"
                if max(spa, spb) > bound / 3:
                    verdict += " (spread over a third of the bound)"
            if not verdict.startswith("agree"):
                bad += 1
            print(f"  {name:16s} {ma:10.4g} {qa1:10.4g}..{qa3:<10.4g} {spa:6.3f} "
                  f"{mb:10.4g} {qb1:10.4g}..{qb3:<10.4g} {spb:6.3f} {bound:6.3f}  {verdict}")
    sys.exit(1 if bad else 0)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    c = sub.add_parser("collect")
    c.add_argument("--workload", required=True)
    c.add_argument("--seeds", required=True, help="e.g. 1-10 or 11,12,13")
    c.add_argument("--out", required=True)
    d = sub.add_parser("compare")
    d.add_argument("set_a")
    d.add_argument("set_b")
    a = ap.parse_args()
    collect(a) if a.cmd == "collect" else compare(a)


if __name__ == "__main__":
    main()
