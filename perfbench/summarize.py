#!/usr/bin/env python3
"""Summarize a traced benchmark run from its trace artifact.

Usage:
    python3 perfbench/summarize.py <traced trace.json> [--untraced <trace.json>]

Prints the provenance stamp, every per-layer metric with its unit, and for
the timed window each span kind's count, total time and self time (its
duration minus the part of it that its child spans cover), each as a share
of the timed window.
With --untraced (a --trace 0 run of the same workload), it also prints the
tracing overhead: traced pass_s minus untraced pass_s.

Trace artifacts are written by run.py under <build>/runs/<workload>-seed<n>-trace<t>/.
"""
import argparse
import json
from collections import defaultdict

# span name -> layer, for the self-time table
LAYERS = {
    "pass": "harness", "query": "harness", "pipeline": "pipeline",
    "release": "materialize", "construct": "ops", "execute": "exec",
    "job": "spark.job", "stage": "spark.stage", "micro-batch": "streaming",
}


def union(intervals):
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """Per span name: (count, total seconds, self seconds)."""
    children = defaultdict(list)
    for s in spans:
        children[s["parent"]].append(s)
    out = defaultdict(lambda: [0, 0.0, 0.0])
    for s in spans:
        dur = s["end_s"] - s["start_s"]
        covered = union([(max(c["start_s"], s["start_s"]), min(c["end_s"], s["end_s"]))
                         for c in children.get(s["id"], [])
                         if c["end_s"] > s["start_s"] and c["start_s"] < s["end_s"]])
        row = out[s["name"]]
        row[0] += 1
        row[1] += dur
        row[2] += max(0.0, dur - covered)
    return out


def timed_spans(spans):
    """The pass and pipeline spans with all their descendants: the timed
    window, without the warm-up and the layer probes."""
    children = defaultdict(list)
    for s in spans:
        children[s["parent"]].append(s)
    out, todo = [], [s for s in spans if s["name"] in ("pass", "pipeline")]
    while todo:
        s = todo.pop()
        out.append(s)
        todo += children.get(s["id"], [])
    return out


def share(part, base):
    return f"{100.0 * part / base:5.1f}% of {base:.3f} s" if base > 0 else "n/a"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("traced")
    ap.add_argument("--untraced")
    a = ap.parse_args()
    with open(a.traced) as fh:
        t = json.load(fh)
    prov = t["provenance"]
    print(f"workload {prov['workload']}  seed {prov['seed']}  trace {prov['trace']}  "
          f"commit {prov['commit']}")
    print(f"host: nproc {prov['nproc']}, MemTotal {prov['mem_total_kb']} kB, "
          f"{prov['jvm']}, Spark {prov['spark']}, loadavg {prov['loadavg_1m_start']:.2f}"
          f" -> {prov['loadavg_1m_end']:.2f}")
    print()
    print("per-layer metrics:")
    for name, m in sorted(t["per_layer"].items()):
        print(f"  {name:40s} {m['value']:14.6g} {m['unit']}")
    print()
    print("end-to-end metrics of this run:")
    for name, m in sorted(t["end_to_end"].items()):
        print(f"  {name:40s} {m['value']:14.6g} {m['unit']}")

    spans = timed_spans(t.get("spans", []))
    if spans:
        timed = [s for s in spans if s["name"] in ("pass", "pipeline")]
        base = union([(s["start_s"], s["end_s"]) for s in timed])
        print()
        print(f"span self time in the timed window (base: union of pass/pipeline spans, "
              f"{base:.3f} s; concurrent spans can add up to more than the base):")
        print(f"  {'span':22s} {'layer':12s} {'count':>7s} {'total s':>10s} {'self s':>10s}  self share")
        for name, (n, tot, selft) in sorted(self_times(spans).items(), key=lambda kv: -kv[1][2]):
            layer = LAYERS.get(name, "runtime" if name.startswith("stage.") else "-")
            print(f"  {name:22s} {layer:12s} {n:7d} {tot:10.3f} {selft:10.3f}  {share(selft, base)}")

    if a.untraced:
        with open(a.untraced) as fh:
            u = json.load(fh)
        tp = t["end_to_end"]["pass_s"]["value"]
        up = u["end_to_end"]["pass_s"]["value"]
        print()
        print(f"tracing overhead: traced pass_s {tp:.4f} s - untraced pass_s {up:.4f} s "
              f"= {tp - up:+.4f} s ({share(tp - up, up)})")


if __name__ == "__main__":
    main()
