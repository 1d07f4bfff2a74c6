#!/usr/bin/env python3
"""Run one benchmark workload and print its result JSON as the last line.

    python3 perfbench/run.py --workload <m4_long|users_pipeline|curate_docs>
        --seed <n> --seconds <s> --trace <0|1> [--size full|tiny]

Builds the program and the benchmark from source with sbt when the sources
changed since the last build (the build is cached under perfbench/.work),
then runs the benchmark JVM. Everything it writes stays under the checkout.
"""
import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys
import threading

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
BUILD_DIR = os.path.join(WORK, "build")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
HEAP = "3g"

# Spark needs these when a session starts outside spark-submit on JDK 17.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file the build reads: the program's and the benchmark's."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for name in sorted(os.listdir(os.path.join(ROOT, "project"))):
        if name.endswith((".sbt", ".properties", ".scala")):
            files.append(os.path.join(ROOT, "project", name))
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def fingerprint():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def start(cmd, cwd, env, timeout, stdout, stderr=None):
    """Start `cmd` in its own process group. The group is killed after
    `timeout` seconds or when this script is interrupted; returns the
    process and a flag that is set if the timeout fired."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout, stderr=stderr,
                         start_new_session=True, text=True)
    timed_out = threading.Event()

    def kill():
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass

    def on_timeout():
        timed_out.set()
        kill()

    def on_signal(signum, _):
        kill()
        p.wait()
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, on_signal)
    signal.signal(signal.SIGINT, on_signal)
    timer = threading.Timer(timeout, on_timeout)
    timer.daemon = True
    timer.start()
    return p, timed_out


def classpath():
    """The runtime classpath, building first if any source changed."""
    stamp = os.path.join(BUILD_DIR, "classpath.txt")
    fp = fingerprint()
    if os.path.exists(stamp):
        with open(stamp) as f:
            lines = f.read().splitlines()
        if len(lines) == 2 and lines[0] == fp:
            return lines[1]
    os.makedirs(BUILD_DIR, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true"
                       " -Dsbt.override.build.repos=true -Xmx2g").strip()
    log = os.path.join(BUILD_DIR, "sbt.log")
    print("perfbench: building with sbt (log: %s)" % os.path.relpath(log, ROOT), file=sys.stderr)
    with open(log, "w") as out:
        p, timed_out = start(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                              "export Runtime/fullClasspath"], BENCH, env, BUILD_TIMEOUT_S,
                             out, subprocess.STDOUT)
        rc = p.wait()
    if timed_out.is_set():
        die("sbt build timed out")
    with open(log) as f:
        cps = [l.strip() for l in f if ".jar" in l and not l.startswith("[")]
    if rc != 0 or not cps:
        die(f"sbt build failed (exit {rc}); see {log}")
    with open(stamp, "w") as f:
        f.write(fp + "\n" + cps[-1] + "\n")
    return cps[-1]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], required=True)
    ap.add_argument("--size", choices=["full", "tiny"], default="full")
    a = ap.parse_args()

    for need in ("build.sbt", os.path.join("src", "main", "scala"), "project"):
        if not os.path.exists(os.path.join(ROOT, need)):
            die(f"program source '{need}' not found next to the benchmark")
    cp = classpath()

    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # Six JIT compiler threads (the default is three on four cores) finish
    # compiling Spark's hot paths during set-up instead of during the timed
    # runs; the compiled code is the same.
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:CICompilerCount=6",
            f"-Djava.io.tmpdir={tmp}",
            f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}",
            "-Dspark.ui.enabled=false"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "graft.perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", a.trace, "--size", a.size, "--bench-dir", BENCH])
    p, timed_out = start(cmd, ROOT, dict(os.environ), RUN_TIMEOUT_S, subprocess.PIPE)
    last = ""
    for line in p.stdout:
        sys.stdout.write(line)
        sys.stdout.flush()
        if line.strip():
            last = line.strip()
    rc = p.wait()
    if timed_out.is_set():
        die("benchmark run timed out", 3)
    if rc != 0:
        die(f"benchmark JVM exited with {rc}", 1)
    try:
        res = json.loads(last)
        assert set(res) == {"correct", "attempted", "failed", "metrics"}
    except (ValueError, AssertionError):
        die("benchmark printed no result line", 1)


if __name__ == "__main__":
    main()
