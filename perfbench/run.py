#!/usr/bin/env python3
"""Product-path benchmark of the graft library.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. Builds the library and the harness from
source on first use (sbt, offline), then runs one workload in a fresh JVM,
checks every output against the harness's own predictions, and prints the
metrics. The last line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics"}; with --trace 0 the metrics
are the end-to-end metrics of BENCHMARK.json, with --trace 1 its per-layer
metrics. The lines before it name every metric with its unit and sample
count, and the run conditions. Each run's full result (ops, spans,
conditions) is kept under .bench_build/results/ for compare.py.
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
BUILD = os.path.join(ROOT, ".bench_build")
RESULTS = os.path.join(BUILD, "results")
CLASSPATH = os.path.join(BUILD, "classpath.txt")
STAMP = os.path.join(BUILD, "classpath.stamp")

sys.path.insert(0, HERE)
import stats  # noqa: E402

# Spark 4 on JDK 17 outside spark-submit needs these (the root build.sbt
# passes the same list to its forked runs).
ADD_OPENS = [
    "--add-opens=java.base/%s=ALL-UNNAMED" % p for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")]
HEAP = "2g"
# the heap is pinned and touched at start, so no timed op pays for first
# touching heap pages; rss_peak_mb is then VmHWM minus the committed heap
HEAP_FLAGS = ["-Xms" + HEAP, "-Xmx" + HEAP, "-XX:+AlwaysPreTouch"]
JVM_FLAGS = HEAP_FLAGS + ADD_OPENS
RUN_LIMIT_S = 170       # a run must end within 180 s
BUILD_LIMIT_S = 850     # the first run of a checkout may take 900 s

BUILD_INPUTS = [
    ("src",), ("build.sbt",), ("project", "build.properties"),
    ("perfbench", "src", "main"), ("perfbench", "build.sbt"),
    ("perfbench", "project", "build.properties")]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def source_digest():
    """Digest of every file the build reads, so an edit triggers a rebuild."""
    h = hashlib.sha256()
    for parts in BUILD_INPUTS:
        top = os.path.join(ROOT, *parts)
        files = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(digest, deadline):
    """Compile the library and the harness (sbt, offline) and record the
    harness's runtime classpath, unless this digest was built already."""
    if os.path.exists(STAMP) and os.path.exists(CLASSPATH):
        with open(STAMP) as f:
            if f.read().strip() == digest:
                return
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           "-Dsbt.server.autostart=false", "writeClasspath"]
    log("building: " + " ".join(cmd))
    with open(os.path.join(BUILD, "build.log"), "w") as out:
        p = subprocess.run(cmd, cwd=HERE, env=env, stdout=out,
                           stderr=subprocess.STDOUT,
                           timeout=max(1, deadline - time.time()))
    if p.returncode != 0:
        with open(os.path.join(BUILD, "build.log")) as f:
            log(f.read()[-4000:])
        raise SystemExit("build failed (exit %d)" % p.returncode)
    with open(STAMP, "w") as f:
        f.write(digest)


def git_commit():
    try:
        # a checkout that is not a git repository reports no commit
        env = dict(os.environ, GIT_CEILING_DIRECTORIES=os.path.dirname(ROOT))
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                              capture_output=True, text=True, env=env,
                              timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def run_jvm(args, work, out, deadline):
    with open(CLASSPATH) as f:
        cp = ":".join(line.strip() for line in f if line.strip())
    cmd = (["java"] + JVM_FLAGS + ["-cp", cp, "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work", work, "--out", out])
    with open(os.path.join(work, "jvm.log"), "w") as jlog:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=jlog,
                             stderr=subprocess.STDOUT)
        try:
            code = p.wait(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise SystemExit("the benchmark JVM ran past its time limit")
    if code != 0 or not os.path.exists(out):
        with open(os.path.join(work, "jvm.log")) as f:
            tail = [l for l in f.read().splitlines()
                    if " INFO " not in l][-40:]
        log("\n".join(tail))
        raise SystemExit("the benchmark JVM failed (exit %d)" % code)
    with open(out) as f:
        return json.load(f)


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=stats.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    started = time.time()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("no library sources under src/main/scala/graft: "
                         "run from the root of a full checkout")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    digest = source_digest()
    build(digest, started + BUILD_LIMIT_S)

    work = os.path.join(BUILD, "work", "%s-%d-%d" % (
        args.workload, args.seed, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        raw = run_jvm(args, work, os.path.join(work, "result.json"),
                      time.time() + RUN_LIMIT_S)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    report = stats.report(raw, bench, args.trace == 1)
    report["conditions"].update({
        "git_commit": git_commit(), "source_digest": digest,
        "jvm_flags": " ".join(HEAP_FLAGS), "heap_pinned": HEAP,
        "seconds": args.seconds, "trace": args.trace,
        "workload": args.workload})
    if args.trace == 1:
        stats.add_tracing_overhead(report, RESULTS)
    os.makedirs(RESULTS, exist_ok=True)
    name = "%s-s%d-t%d-%d.json" % (args.workload, args.seed, args.trace,
                                   int(time.time() * 1000))
    with open(os.path.join(RESULTS, name), "w") as f:
        json.dump({"report": report, "raw": raw}, f)

    for line in stats.describe(report):
        print(line)
    print(json.dumps({"conditions": report["conditions"]}, sort_keys=True))
    print(json.dumps(report["line"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
