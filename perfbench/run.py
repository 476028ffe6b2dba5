#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

`--workload all` runs every workload of BENCHMARK.json in turn.

Run from the root of a checkout. The first run builds the engine and the
benchmark from source with sbt (perfbench/build.sbt); later runs reuse
that build while no source file changed. Each run starts one JVM that
sets up the workload, runs it as a closed loop for the given seconds,
checks every output, prints a readable report and, as the last line of
standard output, one JSON object. Everything the run writes stays under
.bench_build/ in the checkout, and the run's own directory is removed
when it ends. The exit code is non-zero when the build fails, an output
check fails, or the run exceeds its time limit.
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
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 800
MAIN = "perfbench.Main"

# Spark 4 on JDK 17 needs these outside spark-submit, as in build.sbt.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_digest():
    """Hash of every file the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    trees = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for t in trees:
        for d, dirs, names in os.walk(t):
            dirs.sort()
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile with sbt unless the current sources were built already;
    returns the runtime classpath."""
    stamp = os.path.join(BUILD, "built.sha256")
    cp_file = os.path.join(HERE, "target", "classpath.txt")
    digest = sources_digest()
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as fh:
            if fh.read().strip() == digest:
                with open(cp_file) as c:
                    return c.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "-Dsbt.offline=true" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    log_path = os.path.join(BUILD, "build.log")
    with open(log_path, "w") as log:
        try:
            r = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true",
                 "-Dsbt.server.forcestart=false", "compile", "writeClasspath"],
                cwd=HERE, env=env, stdout=log, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, timeout=BUILD_LIMIT_S)
        except subprocess.TimeoutExpired:
            fail(f"build timed out after {BUILD_LIMIT_S} s (log: {log_path})")
    if r.returncode != 0 or not os.path.exists(cp_file):
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail(f"build failed (log: {log_path})")
    with open(stamp, "w") as fh:
        fh.write(digest)
    with open(cp_file) as c:
        return c.read().strip()


def run(workload, seed, seconds, trace, classpath):
    """One JVM run of one workload; prints its report and returns its
    exit code."""
    work = os.path.join(BUILD, f"run-{os.getpid()}-{int(time.time() * 1000)}")
    os.makedirs(work)
    # A fixed heap with a 1 GB young generation and room for the classes
    # Spark loads: with adaptive sizing the old generation stayed small,
    # and full collections of 0.15-0.2 s landed on a few timed ops of
    # every run.
    cmd = (["java", "-Xms3g", "-Xmx3g", "-Xmn1g", "-XX:-UseAdaptiveSizePolicy",
            "-XX:MetaspaceSize=256m", "-XX:+UseParallelGC", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work}", "-Dspark.ui.enabled=false",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
           + [x for m in ADD_OPENS for x in ("--add-opens", f"{m}=ALL-UNNAMED")]
           + ["-cp", classpath, MAIN, "--workload", workload,
              "--seed", str(seed), "--seconds", str(seconds),
              "--trace", trace, "--work", work])
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE,
                            stdin=subprocess.DEVNULL, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_LIMIT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail(f"run exceeded {RUN_LIMIT_S} s")
    trace_file = os.path.join(work, "trace.json")
    if os.path.exists(trace_file):
        shutil.copy(trace_file, os.path.join(BUILD, f"trace-{workload}-{seed}.json"))
    shutil.rmtree(work, ignore_errors=True)
    # the JVM's report, with its JSON result as the last line
    sys.stdout.write("".join(l for l in out.splitlines(keepends=True)
                             if l.startswith(("[perfbench]", "{"))))
    sys.stdout.flush()
    if proc.returncode != 0:
        print(f"perfbench: {workload} failed with exit code {proc.returncode}",
              file=sys.stderr)
    return proc.returncode


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=int)
    p.add_argument("--trace", required=True, choices=["0", "1"])
    a = p.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"no engine sources under {ROOT}/src/main/scala; "
             "run from the root of a full checkout")
    workloads = [a.workload]
    if a.workload == "all":
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            workloads = [w["name"] for w in json.load(fh)["workloads"]]
    classpath = build()
    codes = [run(w, a.seed, a.seconds, a.trace, classpath) for w in workloads]
    sys.exit(1 if any(codes) else 0)


if __name__ == "__main__":
    main()
