#!/usr/bin/env python3
"""Run one benchmark workload and print its result as one JSON line.

    python3 layerbench/run.py --workload etl_spine --seed 1 --seconds 1 \\
        --trace 0

Run from the repository root. The script builds the engine and the
benchmark's JVM program from source (sbt, offline) into `.bench_build/`
unless a build of the same sources is already there, generates the seeded
inputs, runs the workload in one JVM, checks every step against the
generator's planted truth, and prints
`{"correct", "attempted", "failed", "metrics"}` as the last line of
standard output. `--trace 0` reports the end-to-end
metrics; `--trace 1` reports the per-layer medians and writes the spans
to `.bench_build/traces/`. Scratch space (inputs, stores, Spark local
dirs) lives under `.bench_build/run-<pid>/` and is removed at exit.
"""

import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402

ROOT = os.path.dirname(HERE)
WORKLOADS = ("etl_spine", "index_ingest")
# Warm-up steps after the store build (part of setup_s), and a lower
# bound on one step's seconds, which sizes the batch supply. More warm-up
# or more measured steps did not make runs repeat more closely (see
# STEADINESS.md), and one of each keeps the check inside its time budget.
WARMUP = 1
MIN_STEP_S = 2.0
RUN_LIMIT_S = 170
BUILD_DIR = ".bench_build"
# The engine's own JIT settings (tiered C1 + C2, a 1 GB code cache, as in
# the root build.sbt). The heap is capped lower than the engine's 16 GB:
# the inputs are small, and the settled old generation after a full
# collection, which is what the benchmark reports, does not depend on it.
JVM_HEAP = "3g"
CODE_CACHE = "1g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def log(msg):
    print("layerbench: " + msg, file=sys.stderr, flush=True)


def build_dir():
    return os.path.join(ROOT, BUILD_DIR)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if home:
        return home
    submit = shutil.which("spark-submit")
    if not submit:
        raise SystemExit("layerbench: no SPARK_HOME and no spark-submit "
                         "on PATH")
    return os.path.dirname(os.path.dirname(os.path.realpath(submit)))


def source_stamp():
    """Hash of every file the build reads from the checkout, and of the
    Spark distribution it compiles against."""
    h = hashlib.sha256()
    h.update(os.path.realpath(spark_home()).encode())
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def ensure_build():
    """Compile with sbt unless the recorded build matches the sources;
    returns the runtime classpath."""
    out = build_dir()
    os.makedirs(out, exist_ok=True)
    stamp = source_stamp()
    cp_file = os.path.join(out, "classpath.txt")
    stamp_file = os.path.join(out, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f, open(cp_file) as g:
            same, cp = f.read().strip() == stamp, g.read().strip()
        # a cleaned layerbench/target leaves a stale classpath behind
        if same and all(os.path.exists(e) for e in cp.split(os.pathsep)):
            return cp
    log("building engine + benchmark with sbt (offline)")
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home())
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline" not in opts:
        env["SBT_OPTS"] = (opts + " -Dsbt.offline=true").strip()
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.server.autostart=false",
         "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=840)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit("layerbench: build failed")
    cp = [ln for ln in proc.stdout.splitlines()
          if "classes" in ln and ".jar" in ln and not ln.startswith("[")]
    if not cp:
        raise SystemExit("layerbench: sbt printed no classpath")
    log("build took %.1f s" % (time.time() - t0))
    with open(cp_file, "w") as f:
        f.write(cp[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp[-1].strip()


def java_cmd(cp, scratch):
    home = os.environ.get("JAVA_HOME")
    java = os.path.join(home, "bin", "java") if home else "java"
    opens = [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    return [java, "-Xmx" + JVM_HEAP, "-XX:ReservedCodeCacheSize=" + CODE_CACHE,
            "-Djava.io.tmpdir=" + os.path.join(scratch, "stores"),
            "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"] + opens + [
        "-cp", cp, "layerbench.Main"]


def benchmark_metrics(trace):
    """(name, unit) of every metric BENCHMARK.json asks this mode for."""
    path = os.path.join(ROOT, "BENCHMARK.json")
    with open(path) as f:
        spec = json.load(f)
    key = "per_layer" if trace else "end_to_end"
    return [(m["name"], m["unit"]) for m in spec[key]]


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    return ap.parse_args(argv)


def main(argv):
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala",
                                      "graft")):
        raise SystemExit("layerbench: engine sources (src/main/scala/graft)"
                         " not found next to the benchmark")
    wanted = benchmark_metrics(args.trace)
    cp = ensure_build()
    started = time.time()
    scratch = os.path.join(build_dir(), "run-%d" % os.getpid())
    shutil.rmtree(scratch, ignore_errors=True)
    proc = None

    def stop(signum, frame):
        raise SystemExit("layerbench: stopped by signal %d" % signum)

    signal.signal(signal.SIGTERM, stop)
    try:
        for d in ("data", "stores", "steps", "spark-local"):
            os.makedirs(os.path.join(scratch, d))
        batches = WARMUP + 2 + math.ceil(args.seconds / MIN_STEP_S)
        t0 = time.time()
        data = os.path.join(scratch, "data")
        gen.generate(args.workload, data, args.seed, batches)
        log("generated %d batches in %.1f s" % (batches, time.time() - t0))
        result = os.path.join(scratch, "result.json")
        cmd = java_cmd(cp, scratch) + [
            "--workload", args.workload, "--data", data,
            "--stores", os.path.join(scratch, "stores"),
            "--steps", os.path.join(scratch, "steps"),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--warmup", str(WARMUP),
            "--batches", str(batches), "--result", result]
        if args.trace:
            traces = os.path.join(build_dir(), "traces")
            os.makedirs(traces, exist_ok=True)
            cmd += ["--spans", os.path.join(
                traces, "%s-seed%d.jsonl" % (args.workload, args.seed))]
        env = dict(os.environ,
                   SPARK_LOCAL_DIRS=os.path.join(scratch, "spark-local"))
        proc = subprocess.Popen(cmd, cwd=scratch, env=env,
                                stdout=subprocess.PIPE, text=True)
        watchdog = threading.Timer(
            max(1.0, RUN_LIMIT_S - (time.time() - started)), proc.kill)
        watchdog.start()
        try:
            for line in proc.stdout:
                print(line.rstrip("\n"), flush=True)
            proc.wait()
        finally:
            watchdog.cancel()
        if proc.returncode != 0:
            raise SystemExit("layerbench: JVM exited with %d"
                             % proc.returncode)
        with open(result) as f:
            res = json.load(f)
    finally:
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(scratch, ignore_errors=True)
    for e in res["errors"]:
        log("check failed: " + e)
    metrics = res["metrics"]
    missing = [(n, u) for n, u in wanted
               if n not in metrics or metrics[n]["unit"] != u]
    if missing:
        raise SystemExit("layerbench: metrics missing or with another unit:"
                         " %s" % missing)
    print(json.dumps({
        "correct": res["correct"], "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {n: metrics[n] for n, _ in wanted}}), flush=True)
    return 0 if res["correct"] else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
