#!/usr/bin/env python3
"""Build graft and the benchmark, then run one benchmark workload.

Usage, from the repository root:

    python3 perfbench/run.py --workload batch --seed 1 --seconds 7 --trace 0

The first run compiles the repository and the benchmark with sbt (offline) and
caches the runtime classpath under perfbench/target; later runs start the
JVM directly. The last line of standard output is the result JSON.
"""
import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("batch", "online")
# A run must end within 180 s, or 900 s when it builds first.
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 170
BUILD_RUN_TIMEOUT_S = 880
# The live heap of a run stays under 150 MB; a fixed heap keeps the
# footprint and GC behaviour the same on every machine.
HEAP_MB = 1536

# Spark on JDK 17 needs these when the session is created outside
# spark-submit (the same list as the root build's javaOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=1):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_digest():
    """Hash of every input of the build, so a changed tree rebuilds."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in tops:
        for d, dirs, names in os.walk(top):
            dirs.sort()
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def classpath():
    """The runtime classpath and whether it had to be built first."""
    stamp = os.path.join(HERE, "target", "perfbench-classpath.json")
    digest = source_digest()
    if os.path.exists(stamp):
        with open(stamp) as fh:
            cached = json.load(fh)
        if cached.get("digest") == digest:
            return cached["classpath"], False
    env = dict(os.environ, COURSIER_MODE="offline")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           "export perfbench/Runtime/fullClasspath"]
    try:
        p = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE,
                           stderr=subprocess.STDOUT, text=True, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    os.makedirs(os.path.dirname(stamp), exist_ok=True)
    with open(stamp, "w") as fh:
        json.dump({"digest": digest, "classpath": lines[-1]}, fh)
    return lines[-1], True


def is_result(line):
    try:
        result = json.loads(line)
    except ValueError:
        return False
    return isinstance(result, dict) and set(result) == {"correct", "attempted", "failed", "metrics"}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()
    if args.seconds < 1:
        fail("--seconds must be at least 1", 2)
    for need in ("build.sbt", os.path.join("src", "main", "scala"), "BENCHMARK.json"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"not a graft checkout: {need} is missing", 3)

    t0 = time.monotonic()
    cp, built = classpath()
    timeout = (BUILD_RUN_TIMEOUT_S if built else RUN_TIMEOUT_S) - (time.monotonic() - t0)
    tmp = os.path.join(HERE, "work", "tmp")
    os.makedirs(tmp, exist_ok=True)
    # C1 only: a run is too short for C2 to pay off, and C2's compile
    # threads would take cores from Spark's tasks. C1 alone gets a 48 MB
    # code cache, which Spark's generated code fills within a run; the
    # JVM then stops compiling and the rest of the run is interpreted.
    cmd = (["java", f"-Xms{HEAP_MB}m", f"-Xmx{HEAP_MB}m", "-XX:+UseG1GC", "-XX:-UsePerfData", "-XX:TieredStopAtLevel=1",
            "-XX:ReservedCodeCacheSize=256m",
            # JVM warnings go to stdout by default and could land after the result
            "-Xlog:all=warning:stderr",
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-Dsun.net.httpserver.nodelay=true"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", ROOT,
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace)])
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=max(timeout, 10))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"run exceeded {timeout:.0f} s")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0:
        fail(f"benchmark exited with {proc.returncode}")
    # the result is the last line that is one; anything else is passed on before it
    at = next((i for i in range(len(lines) - 1, -1, -1) if is_result(lines[i])), None)
    if at is None:
        fail("no result line")
    for l in lines[:at] + lines[at + 1:]:
        print(l)
    print(lines[at])


if __name__ == "__main__":
    main()
