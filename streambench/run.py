#!/usr/bin/env python3
"""Streaming-pipeline benchmark: builds the program from source and runs
one workload of the shipped price pipeline (or the ingest loop) in a
benchmark JVM.

    python3 streambench/run.py --workload ticks --seed 1 --seconds 6 --trace 0
    python3 streambench/run.py --workload all --seed 1 --seconds 6

Run from the repository root. The first run compiles the program's
sources (../src/main) together with the benchmark (streambench/src)
through streambench/build.sbt; later runs reuse the build while no source
changed. Each run works in its own directory under .bench_work/, which is
removed afterwards unless the run failed.

The last line of standard output is one JSON object:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}} with
the end-to-end metrics of BENCHMARK.json (--trace 0) or its per-layer
metrics (--trace 1). Every measured quantity is also printed above it by
name with its unit. The command exits non-zero on any output mismatch.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM_SRC = os.path.join(ROOT, "src", "main")
STAMP = os.path.join(HERE, "target", "bench-build.json")
WORKLOADS = ["ticks", "docs_ingest"]
RUN_TIMEOUT_S = 170

# Deployment JVM options of the program's own build (build.sbt), with a
# heap sized for a small machine.
JAVA_OPTS = [
    opt
    for pkg in [
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar",
    ]
    for opt in ("--add-opens", f"java.base/{pkg}=ALL-UNNAMED")
] + [
    "-Dspark.ui.enabled=false",
    "-Dspark.sql.session.timeZone=UTC",
    "-Dspark.sql.codegen.cache.maxEntries=5000",
    "-XX:ReservedCodeCacheSize=512m",
    "-Xmx2g",
    # keep the JVM's perf-data file out of the system temp directory
    "-XX:+PerfDisableSharedMem",
]


def fail(msg, code=2):
    print(f"streambench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_digest():
    h = hashlib.sha256()
    roots = [PROGRAM_SRC, os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile with sbt when the sources changed; return the classpath."""
    digest = source_digest()
    if os.path.exists(STAMP):
        with open(STAMP) as fh:
            stamp = json.load(fh)
        if stamp.get("digest") == digest:
            return stamp["classpath"]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    print("streambench: building (first run in this checkout) ...", flush=True)
    try:
        p = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdin=subprocess.DEVNULL,
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=840)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    classpath = lines[-1].strip()
    with open(STAMP, "w") as fh:
        json.dump({"digest": digest, "classpath": classpath}, fh)
    return classpath


def run_jvm(classpath, workload, seed, seconds, trace):
    """One benchmark JVM; returns its parsed result and its work dir."""
    work = os.path.join(ROOT, ".bench_work", f"{workload}-s{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    out = os.path.join(work, "result.json")
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = tmp
    cmd = ["java", f"-Djava.io.tmpdir={tmp}", *JAVA_OPTS, "-cp", classpath,
           "streambench.Main", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace), "--work", work, "--out", out]
    with open(os.path.join(work, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdin=subprocess.DEVNULL,
                                stdout=log, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"{workload} timed out; log in {work}", 1)
    if code != 0 or not os.path.exists(out):
        with open(os.path.join(work, "jvm.log"), errors="replace") as fh:
            tail = fh.read()[-3000:]
        sys.stderr.write(tail)
        fail(f"{workload} JVM exited with {code}; log in {work}", 1)
    with open(out) as fh:
        return json.load(fh), work


def declared():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        b = json.load(fh)
    return b["end_to_end"], b["per_layer"]


def run_workload(classpath, workload, args):
    res, work = run_jvm(classpath, workload, args.seed, args.seconds, args.trace)
    print(f"== {workload}  seed={args.seed} seconds={args.seconds} trace={args.trace}")
    for line in res["lines"]:
        print("  " + line)
    for m in res["mismatches"]:
        print("  MISMATCH " + m)
    e2e, layers = declared()
    wanted = layers if args.trace else e2e
    metrics = {}
    for m in wanted:
        got = res["per_layer" if args.trace else "end_to_end"].get(m["name"])
        # a layer the workload never reaches reports zero work
        metrics[m["name"]] = got if got is not None else {"value": 0.0, "unit": m["unit"]}
    if args.trace:
        for k, v in metrics.items():
            print(f"  {k:<32} {v['value']:>14.4f} {v['unit']}")
    if res["failed"] == 0:
        shutil.rmtree(work, ignore_errors=True)
    return {"correct": res["failed"] == 0, "attempted": res["attempted"],
            "failed": res["failed"], "metrics": metrics}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=6)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if not os.path.isdir(PROGRAM_SRC):
        fail(f"program sources not found at {os.path.relpath(PROGRAM_SRC)}; "
             "run from a full checkout of the repository")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are required")
    t0 = time.time()
    classpath = build()
    results = {w: run_workload(classpath, w, args)
               for w in (WORKLOADS if args.workload == "all" else [args.workload])}
    print(f"  (wall {time.time() - t0:.1f} s)")
    if len(results) == 1:
        final = next(iter(results.values()))
    else:
        final = {"correct": all(r["correct"] for r in results.values()),
                 "attempted": sum(r["attempted"] for r in results.values()),
                 "failed": sum(r["failed"] for r in results.values()),
                 "metrics": {f"{w}.{k}": v for w, r in results.items()
                             for k, v in r["metrics"].items()}}
    print(json.dumps(final))
    sys.exit(0 if final["correct"] else 1)


if __name__ == "__main__":
    main()
