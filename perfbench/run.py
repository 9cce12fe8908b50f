#!/usr/bin/env python3
"""Run one benchmark workload and print its result line.

Usage (from the repository root):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

The first run builds the engine and the benchmark from source with sbt
(perfbench/build.sbt); later runs reuse the build while no source file is
newer than it. Each run starts one JVM for the workload. With --trace 1 it
first makes an untraced run of the same workload and seed, then the traced
run, and reports per-layer metrics plus trace.overhead_ratio (traced wall
time over untraced wall time of the measured phase).

--seconds sets how much work the run measures (a fixed number of units
per second), so a given value always means the same work.

The last line of standard output is one JSON object with the keys
correct, attempted, failed and metrics. The line before it gives the
workload's own figures under its own names, wall-clock ones included.
Exits non-zero when any answer is wrong, a run fails, or the engine
source is missing.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
CLASSPATH = os.path.join(TARGET, "run-classpath.txt")
WORK = os.path.join(HERE, "work")
OUT = os.path.join(HERE, "out")
WORKLOADS = ("wallet_medallion", "corpus_ingest", "lake_serve")
RUN_DEADLINE_S = 175
BUILD_DEADLINE_S = 840

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def newest_mtime(paths):
    newest = 0.0
    for p in paths:
        if os.path.isfile(p):
            newest = max(newest, os.path.getmtime(p))
        for d, dirs, files in os.walk(p):
            dirs[:] = [x for x in dirs if x != "target"]
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    return newest


def build():
    sources = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "src", "main"),
               os.path.join(ROOT, "project", "build.properties"),
               os.path.join(HERE, "build.sbt"), os.path.join(HERE, "src", "main"),
               os.path.join(HERE, "project", "build.properties")]
    if (os.path.exists(CLASSPATH)
            and os.path.getmtime(CLASSPATH) >= newest_mtime(sources)):
        return
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    env["SBT_OPTS"] = (opts + " -Dsbt.offline=true -Dsbt.override.build.repos=true"
                       " -Dsbt.server.autostart=false"
                       + ("" if "-Xmx" in opts else " -Xmx2g")).strip()
    t0 = time.time()
    code = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                     env, BUILD_DEADLINE_S, cwd=HERE, stdout=sys.stderr)
    if code != 0 or not os.path.exists(CLASSPATH):
        fail(f"build failed (exit {code})")
    print(f"[perfbench] built in {time.time() - t0:.0f} s", file=sys.stderr)


def run_child(cmd, env, timeout, cwd=None, stdout=None):
    """Run cmd in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout,
                         stderr=subprocess.STDOUT, start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"{cmd[0]} exceeded {timeout} s")
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def run_jvm(workload, seed, seconds, trace, deadline):
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(os.path.join(WORK, "tmp"))
    with open(CLASSPATH) as f:
        cp = f.read().strip()
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
            "-cp", cp, "graft.perfbench.Main",
            "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", str(trace),
            "--work", WORK,
            "--artifact", os.path.join(OUT, f"trace-{workload}-seed{seed}.json")]
    log = os.path.join(OUT, f"run-{workload}-seed{seed}-trace{trace}.log")
    os.makedirs(OUT, exist_ok=True)
    try:
        with open(log, "w") as out:
            code = run_child(cmd, dict(os.environ),
                             max(1, deadline - time.time()), cwd=ROOT, stdout=out)
    finally:
        shutil.rmtree(WORK, ignore_errors=True)
    result = None
    with open(log) as f:
        for line in f:
            if line.startswith("PERFBENCH_RESULT "):
                result = json.loads(line[len("PERFBENCH_RESULT "):])
    if result is None:
        fail(f"{workload} run printed no result (exit {code}); see {log}")
    return code, result


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")) \
            or not os.path.isfile(os.path.join(ROOT, "build.sbt")):
        fail("the engine's source (src/main/scala/graft, build.sbt) is not "
             "in this checkout")
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    with open(spec_path) as f:
        spec = json.load(f)

    build()
    deadline = time.time() + RUN_DEADLINE_S
    code, res = run_jvm(args.workload, args.seed, args.seconds, 0, deadline)
    if args.trace:
        plain = res
        code, res = run_jvm(args.workload, args.seed, args.seconds, 1, deadline)
        res["per_layer"]["trace.overhead_ratio"] = \
            res["measured_wall_s"] / plain["measured_wall_s"]
        res["correct"] = res["correct"] and plain["correct"]

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    got = res["per_layer"] if args.trace else res["end_to_end"]
    if sorted(m["name"] for m in wanted) != sorted(got):
        fail(f"metrics {sorted(got)} do not match BENCHMARK.json")
    metrics = {m["name"]: {"value": got[m["name"]], "unit": m["unit"]} for m in wanted}

    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "metrics": res["named"]}))
    print(json.dumps({"correct": bool(res["correct"]) and code == 0,
                      "attempted": res["attempted"], "failed": res["failed"],
                      "metrics": metrics}))
    sys.exit(0 if res["correct"] and code == 0 else 1)


if __name__ == "__main__":
    main()
