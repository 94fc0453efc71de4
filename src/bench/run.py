#!/usr/bin/env python3
"""Benchmark entry point.

    python3 src/bench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the engine and the
benchmark with sbt (src/bench/build.sbt depends on the engine's build) and
stores the classpath; later runs start the JVM directly. Everything the run
writes stays under src/bench/target. The last stdout line is the result
object that perfbench.Main prints; the exit code is nonzero on a failed
build, a failed call or check, or a timeout.
"""
import argparse
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(BENCH))
TARGET = os.path.join(BENCH, "target")
CLASSPATH = os.path.join(TARGET, "perfbench-classpath.txt")
WORKLOADS = ("nfl_paper", "registry_chain")
BUILD_TIMEOUT_S = 700  # with the run after it, within a first run's 900 s
RUN_TIMEOUT_S = 170

# Spark 4 on JDK 17 outside spark-submit needs these (the engine's build.sbt
# passes the same list to its forked JVMs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def sources_newer_than(path):
    """True when a build input changed after `path` was written."""
    stamp = os.path.getmtime(path)
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main"),
                os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt")):
        if os.path.isfile(top):
            if os.path.getmtime(top) > stamp:
                return True
            continue
        for d, _, files in os.walk(top):
            if any(os.path.getmtime(os.path.join(d, f)) > stamp for f in files):
                return True
    return False


def run_bounded(cmd, timeout, **kw):
    """Runs cmd in its own process group; kills the group on timeout."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return proc.wait(timeout=timeout)
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise


def build():
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")):
        sys.exit(f"perfbench: no engine build at {ROOT}/build.sbt; "
                 "run from the root of a full checkout")
    if os.path.isfile(CLASSPATH) and not sources_newer_than(CLASSPATH):
        return
    os.makedirs(TARGET, exist_ok=True)
    out = os.path.join(TARGET, "build.log")
    print("perfbench: building with sbt", file=sys.stderr)
    with open(out, "w") as log:
        rc = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
                          "compile", "export Runtime/fullClasspath"],
                         BUILD_TIMEOUT_S, cwd=BENCH, stdout=log, stderr=subprocess.STDOUT,
                         stdin=subprocess.DEVNULL)
    lines = open(out).read().splitlines()
    if rc != 0 or not lines or os.pathsep not in lines[-1]:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        sys.exit(f"perfbench: build failed (rc={rc}), log in {out}")
    with open(CLASSPATH, "w") as f:
        f.write(lines[-1].strip())


def main():
    # a SIGTERM unwinds through run_bounded, which kills the child's group
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    build()
    work = os.path.join(TARGET, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # a heap fixed at its full size from the start, so the first passes do
    # not also pay for growing it
    cmd = (["java", "-Xms3g", "-Xmx3g", f"-Djava.io.tmpdir={tmp}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", open(CLASSPATH).read().strip(), "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", a.trace, "--data", os.path.join(BENCH, "data", "sf0.01"),
              "--work", work])
    t0 = time.time()
    try:
        rc = run_bounded(cmd, RUN_TIMEOUT_S, cwd=work, stdin=subprocess.DEVNULL)
    except subprocess.TimeoutExpired:
        sys.exit(f"perfbench: {a.workload} did not finish within {RUN_TIMEOUT_S} s")
    print(f"perfbench: {a.workload} seed {a.seed} took {time.time() - t0:.1f} s, rc={rc}",
          file=sys.stderr)
    shutil.rmtree(work, ignore_errors=True)
    sys.exit(rc)


if __name__ == "__main__":
    main()
