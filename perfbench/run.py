#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout of the engine. The script

  1. builds the engine and the runner in `perfbench/` with sbt (once per
     source state; the classpath is kept in `.bench_build/`),
  2. generates the workload's parquet inputs from the seed (`gen.py`,
     cached per seed and scale in `.bench_data/`),
  3. runs the JVM runner (`perfbench.Main`) for one workload,
  4. checks every result against DuckDB running `SparkEntry.oracleSql`
     (`oracle.py`), and
  5. prints one JSON line: correct, attempted, failed and the metrics
     (end-to-end with --trace 0, per-layer with --trace 1).

A traced run also writes its spans to `.bench_out/trace-<workload>-s<seed>.jsonl`
and a self-time summary per layer to stderr.
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
sys.path.insert(0, HERE)

import gen  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
DATA = os.path.join(ROOT, ".bench_data")
CACHE = os.path.join(ROOT, ".bench_cache")
OUT = os.path.join(ROOT, ".bench_out")
RUNS = os.path.join(ROOT, ".bench_run")

# A run must end within 180 s, or 900 s for the first run in a checkout,
# which builds. The build gets BUILD_LIMIT_S; the run after it gets
# RUN_LIMIT_S, of which the JVM may use all but 20 s (left for the checks).
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 700

JAVA_OPTS = [
    "-Xms4g", "-Xmx4g", "-XX:+UseG1GC", "-XX:-UsePerfData",
    "-XX:-UseDynamicNumberOfCompilerThreads", "-Duser.timezone=UTC",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
] + [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for x in ("--add-opens", f"{p}=ALL-UNNAMED")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(deadline):
    """Compile engine + runner; return the runtime classpath."""
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft", "SparkEntry.scala")):
        if not os.path.isfile(os.path.join(ROOT, need)):
            fail(f"engine source {need} not found under {ROOT}; run from a checkout root")
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return open(cp_file).read()
    os.makedirs(BUILD, exist_ok=True)
    log("building engine and runner with sbt")
    t0 = time.time()
    env = dict(os.environ, COURSIER_MODE="offline")
    try:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
             "compile", "export perfbench/Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, text=True, timeout=max(deadline - time.time(), 1))
    except subprocess.TimeoutExpired:
        fail("build timed out")
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    if p.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:])
        fail(f"build failed (sbt exit {p.returncode})")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"build done in {time.time() - t0:.1f} s")
    return cp


def prune(keep):
    """Keep the `keep` most recently used corpus directories."""
    if not os.path.isdir(DATA):
        return
    dirs = sorted((os.path.join(DATA, d) for d in os.listdir(DATA)), key=os.path.getmtime)
    for d in dirs[:-keep] if len(dirs) > keep else []:
        shutil.rmtree(d, ignore_errors=True)


def prepare_data(workload, seed):
    """Generate (or reuse) the timed corpus and the tiny warm-up corpus."""
    spec = metrics.WORKLOADS[workload]
    os.makedirs(DATA, exist_ok=True)
    t0 = time.time()
    tiny = os.path.join(DATA, f"tiny-s{seed}")
    gen.generate(tiny, f"{seed}-tiny", 0.001)
    gen.stage_snapshots(os.path.join(tiny, "stage"), f"{seed}-tiny", 1, 10_000)
    if workload == "etl_ingest":
        data = os.path.join(DATA, f"etl-r{spec['rows']}-s{seed}")
        gen.stage_snapshots(os.path.join(data, "stage"), seed, spec["snapshots"], spec["rows"])
    else:
        data = os.path.join(DATA, f"sf{spec['sf']}-s{seed}")
        gen.generate(data, seed, spec["sf"])
    for d in (tiny, data):
        os.utime(d)
    log(f"data ready in {time.time() - t0:.2f} s (not part of setup_s)")
    return data, tiny


def run_jvm(cp, args, data, tiny, deadline):
    run_dir = os.path.join(RUNS, f"{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    out = os.path.join(run_dir, "result.json")
    os.makedirs(OUT, exist_ok=True)
    trace_out = os.path.join(OUT, f"trace-{args.workload}-s{args.seed}.jsonl")
    cores = len(os.sched_getaffinity(0))
    cmd = ["java", *JAVA_OPTS, f"-Djava.io.tmpdir={run_dir}/tmp",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           f"-Dderby.system.home={run_dir}", f"-Dderby.stream.error.file={run_dir}/derby.log",
           "-cp", cp, "perfbench.Main",
           "--workload", args.workload, "--data", data, "--tiny", tiny,
           "--run-dir", run_dir, "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--cores", str(cores), "--out", out, "--trace-out", trace_out,
           "--snapshot-rows", str(metrics.WORKLOADS[args.workload].get("rows", 0))]
    proc = subprocess.Popen(cmd, cwd=run_dir, stdout=sys.stderr, stdin=subprocess.DEVNULL)
    try:
        code = proc.wait(timeout=max(deadline - time.time(), 1))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
        fail("runner exceeded the run time limit")
    try:
        if code != 0 or not os.path.exists(out):
            fail(f"runner exited with code {code}")
        shutil.copy(out, os.path.join(OUT, f"last-{args.workload}.json"))
        with open(out) as f:
            return json.load(f), (trace_out if args.trace else None)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(metrics.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    start = time.time()
    cp = build(start + BUILD_LIMIT_S)
    run_start = time.time()
    prune(keep=6)
    data, tiny = prepare_data(args.workload, args.seed)
    result, trace_path = run_jvm(cp, args, data, tiny, run_start + RUN_LIMIT_S - 20)
    t0 = time.time()
    judged = oracle.judge(result, data, args.seed, CACHE)
    log(f"output checks done in {time.time() - t0:.2f} s; process start to first timed "
        f"operation {result['jvm_to_first_op_s']:.1f} s")
    for line in judged["problems"][:20]:
        log(f"FAILED {line}")
    log(metrics.wall_summary(result))
    if trace_path:
        sys.stderr.write(metrics.trace_summary(result) + "\n")
    result["input_bytes"] = sum(os.path.getsize(os.path.join(data, f))
                                for f in os.listdir(data) if f.endswith(".parquet"))
    m = metrics.compute(args.workload, result, bool(args.trace))
    print(json.dumps({"correct": judged["failed"] == 0, "attempted": judged["attempted"],
                      "failed": judged["failed"], "metrics": m}))


if __name__ == "__main__":
    main()
