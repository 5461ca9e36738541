#!/usr/bin/env python3
"""graft benchmark: run one workload and print its metrics as one JSON line.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

The workloads are listed in BENCHMARK.json and configured in
perfbench/workloads.json. The first run in a checkout compiles graft's
sources together with the harness (perfbench/src) through sbt into the
build directory ($CARGO_TARGET_DIR, default .bench_build); later runs reuse
that build while the sources are unchanged. Each run starts one JVM, which
sets up, checks outputs, measures for --seconds seconds and writes a trace
artifact (provenance, spans, per-query rows) under <build>/runs/.

The last line of standard output is
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}: the
end-to-end metrics with --trace 0, the per-layer metrics with --trace 1.

Extra flags: --record writes the run's result fingerprints to
perfbench/expected/<workload>.json; --dump writes each query's result for
perfbench/oracle_check.py, which checks results against DuckDB.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
HEAP = "4g"

JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "project")]
    files = [os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = [x for x in dirs if x not in ("target", "project")]
            files += [os.path.join(d, n) for n in names]
    return sorted(f for f in files if os.path.isfile(f))


def digest():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(build_dir):
    """Compile graft plus the harness once per source digest; return the
    runtime classpath."""
    stamp = digest()
    cp_file = os.path.join(build_dir, "classpath.txt")
    stamp_file = os.path.join(build_dir, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                with open(cp_file) as fh:
                    return fh.read().strip(), stamp
    os.makedirs(build_dir, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g",
            f"-Djava.io.tmpdir={os.path.join(build_dir, 'tmp')}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    os.makedirs(os.path.join(build_dir, "tmp"), exist_ok=True)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           "-Dsbt.server.autostart=false",
           f"-Dperfbench.target={os.path.join(build_dir, 'sbt')}",
           "export Runtime/fullClasspath"]
    log_path = os.path.join(build_dir, "build.log")
    with open(log_path, "w") as log:
        try:
            p = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE,
                               stderr=log, text=True, timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"build timed out; see {log_path}")
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    if p.returncode != 0 or not lines or "classes" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:])
        fail(f"build failed (exit {p.returncode}); see {log_path}")
    cp = lines[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp, stamp


def git_commit():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return "none"
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                              capture_output=True, timeout=10).stdout.strip() or "none"
    except (OSError, subprocess.SubprocessError):
        return "none"


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--record", action="store_true")
    ap.add_argument("--dump", action="store_true",
                    help="write each query's result for oracle_check.py instead of measuring")
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("graft sources (src/main/scala/graft) not found: run from the "
             "root of a graft checkout")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    with open(os.path.join(HERE, "workloads.json")) as fh:
        workloads = json.load(fh)
    if a.workload not in workloads:
        fail(f"unknown workload {a.workload}; known: {', '.join(workloads)}")
    wl = workloads[a.workload]

    build_dir = os.path.abspath(os.path.join(
        ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build"))
    cp, stamp = build(build_dir)

    n = cores()
    work = os.path.join(build_dir, "work", a.workload)
    tmp = os.path.join(work, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "spark-local"), exist_ok=True)
    out = os.path.join(build_dir, "runs", f"{a.workload}-seed{a.seed}-trace{a.trace}")
    shutil.rmtree(out, ignore_errors=True)
    expected = os.path.join(HERE, "expected", f"{a.workload}.json")

    settings = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
        "trace": a.trace, "cores": n, "out": out, "work": work,
        "commit": f"{git_commit()} src:{stamp[:16]}",
        "expected": "" if a.record or not os.path.exists(expected) else expected,
        "mode": "dump" if a.dump else "run",
    }
    for k, v in wl.items():
        if not k.startswith("_"):
            settings[k] = ",".join(v) if isinstance(v, list) else v
    argv = []
    for k, v in settings.items():
        argv += [f"--{k}", str(v)]

    jvm = ["java"] + [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC",
        f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        "-cp", cp, "perfbench.Main"] + argv
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(n),
               SPARK_LOCAL_DIRS=os.path.join(tmp, "spark-local"))
    env.pop("SPARK_GRAFT_MASTER", None)
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(jvm, cwd=ROOT, env=env, stdout=log, stderr=log)
        try:
            rc = p.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"run exceeded {RUN_TIMEOUT_S} s; see {log_path}")
    shutil.rmtree(tmp, ignore_errors=True)
    result_path = os.path.join(out, "result.json")
    if rc != 0 or not os.path.exists(result_path):
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-6000:])
        fail(f"harness exited with {rc}; see {log_path}")
    with open(result_path) as fh:
        res = json.load(fh)

    if a.record:
        with open(os.path.join(out, "trace.json")) as fh:
            fps = json.load(fh)["run"]["fingerprints"]
        os.makedirs(os.path.dirname(expected), exist_ok=True)
        with open(expected, "w") as fh:
            json.dump({"queries": {q: {"rows": f["rows"], "hash": f["hash"]}
                                   for q, f in fps.items()}}, fh, indent=1, sort_keys=True)
            fh.write("\n")

    if a.dump:
        print(os.path.join(out, "trace.json"))
        return
    wanted = bench["per_layer"] if a.trace else bench["end_to_end"]
    got = res["per_layer"] if a.trace else res["end_to_end"]
    metrics = {}
    for m in wanted:
        name = m["name"]
        if name in got:
            if got[name]["unit"] != m["unit"]:
                fail(f"{name}: harness reports unit {got[name]['unit']}, "
                     f"BENCHMARK.json says {m['unit']}")
            metrics[name] = {"value": got[name]["value"], "unit": m["unit"]}
        elif a.trace:
            # a layer this workload does not exercise
            metrics[name] = {"value": 0, "unit": m["unit"]}
        else:
            fail(f"end-to-end metric {name} missing from the harness result")
    print(f"perfbench: trace artifact {os.path.join(out, 'trace.json')}", file=sys.stderr)
    print(json.dumps({"correct": res["failed"] == 0 and res["attempted"] >= 1,
                      "attempted": res["attempted"], "failed": res["failed"],
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
