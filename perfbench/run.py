#!/usr/bin/env python3
"""Repository benchmark launcher.

Usage (from the repository root):

    python3 perfbench/run.py --workload rag_query --seed 1 --seconds 10 --trace 0

Builds the engine (src/main/scala) and the benchmark (perfbench/src) with the
Scala compiler that ships in the Spark distribution, into .bench_build/, then
runs one workload in a fresh JVM. The JVM prints human-readable lines and, as
its last stdout line, one JSON object: {"correct", "attempted", "failed",
"metrics"}. This script relays that output, adds run provenance (source
revision, dirty flag, load average before and after), and exits non-zero when
the build fails, the JVM fails, or an output check fails.

Extra modes (used by perfbench/tests and when refreshing committed data):
    --gen-digest          print a digest of the seeded inputs and exit
    --fingerprint         recompute perfbench/data/suite_fingerprints.json
    --inject-fault        corrupt one engine output before it is checked
"""

import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(BENCH_DIR, "src")
JVM_TIMEOUT_S = 170
COMPILE_TIMEOUT_S = 600

JDK_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    # SPARK_HOME, else the distribution of any spark-submit on PATH (a
    # pip-installed pyspark puts one there that has no jars beside it).
    homes = [os.environ.get("SPARK_HOME")]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        if d and os.path.isfile(os.path.join(d, "spark-submit")):
            homes.append(os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit")))))
    for home in homes:
        if home and glob.glob(os.path.join(home, "jars", "spark-sql_*.jar")):
            return os.path.join(home, "jars")
    fail("no Spark distribution found (set SPARK_HOME or put spark-submit on PATH)")


def java_bin():
    home = os.environ.get("JAVA_HOME")
    if home and os.path.exists(os.path.join(home, "bin", "java")):
        return os.path.join(home, "bin", "java")
    found = shutil.which("java")
    if not found:
        fail("no java on PATH")
    return found


def sources():
    if not os.path.isdir(ENGINE_SRC):
        fail(f"engine sources not found at {os.path.relpath(ENGINE_SRC)}")
    files = sorted(glob.glob(os.path.join(ENGINE_SRC, "**", "*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(BENCH_SRC, "**", "*.scala"), recursive=True))
    if not files:
        fail("no sources to build")
    return files


def source_digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(java, jars):
    """Compile engine + benchmark once per source digest."""
    files = sources()
    digest = source_digest(files)
    classes = os.path.join(BUILD, "classes")
    stamp = os.path.join(BUILD, "classes.sha256")
    if os.path.exists(stamp) and open(stamp).read().strip() == digest:
        return classes, digest
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    if os.path.exists(stamp):
        os.remove(stamp)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    t0 = time.time()
    cmd = [java, "-Xmx2g", "-Xss16m", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", classes,
           "@" + argfile]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                          timeout=COMPILE_TIMEOUT_S)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout.decode(errors="replace")[-8000:])
        fail("build failed")
    with open(stamp, "w") as fh:
        fh.write(digest + "\n")
    print(f"[perfbench] built {len(files)} sources in {time.time() - t0:.1f} s",
          file=sys.stderr)
    return classes, digest


def git_provenance():
    try:
        head = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                              capture_output=True, text=True, timeout=10)
        if head.returncode != 0:
            return None, None
        status = subprocess.run(["git", "status", "--porcelain", "src/main", "perfbench"],
                                cwd=ROOT, capture_output=True, text=True, timeout=10)
        return head.stdout.strip(), bool(status.stdout.strip())
    except (OSError, subprocess.SubprocessError):
        return None, None


def loadavg():
    try:
        with open("/proc/loadavg") as fh:
            return [float(x) for x in fh.read().split()[:3]]
    except OSError:
        return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", default="rag_query")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--gen-digest", action="store_true")
    ap.add_argument("--fingerprint", action="store_true")
    ap.add_argument("--inject-fault", action="store_true")
    args = ap.parse_args()
    if args.seconds < 1:
        fail("--seconds must be at least 1")

    java = java_bin()
    jars = spark_jars()
    os.makedirs(BUILD, exist_ok=True)
    classes, digest = build(java, jars)

    # Every file the engine or Spark writes goes below .bench_build: temp
    # dirs, Spark local dirs, the warehouse, Derby's home.
    run_dir = os.path.join(BUILD, f"run-{os.getpid()}")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    head, dirty = git_provenance()
    load_before = loadavg()
    cmd = [java, "-Xmx3g", "-Xss8m"]
    cmd += [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in JDK_OPENS]
    cmd += [
        f"-Djava.io.tmpdir={tmp}",
        f"-Dspark.local.dir={tmp}",
        f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
        f"-Dderby.system.home={os.path.join(run_dir, 'derby')}",
        f"-Dderby.stream.error.file={os.path.join(run_dir, 'derby.log')}",
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        f"-Dlog4j2.configurationFile={os.path.join(BENCH_DIR, 'log4j2.properties')}",
        "-cp", classes + os.pathsep + os.path.join(jars, "*"),
        "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--bench-dir", BENCH_DIR, "--work-dir", run_dir, "--out-dir", BUILD,
        "--source-sha", digest[:16],
        "--head", head or "unknown",
        "--dirty", "unknown" if dirty is None else str(dirty).lower(),
        "--load-before", json.dumps(load_before),
    ]
    if args.gen_digest:
        cmd.append("--gen-digest")
    if args.fingerprint:
        cmd.append("--fingerprint")
    if args.inject_fault:
        cmd.append("--inject-fault")

    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, start_new_session=True)
    timed_out = threading.Event()

    def kill():
        timed_out.set()
        os.killpg(proc.pid, signal.SIGKILL)

    watchdog = threading.Timer(COMPILE_TIMEOUT_S if args.fingerprint else JVM_TIMEOUT_S, kill)
    watchdog.start()
    lines = []
    try:
        for raw in proc.stdout:
            line = raw.decode(errors="replace").rstrip("\n")
            lines.append(line)
            if not line.startswith("{\"correct\""):
                print(line, flush=True)
        code = proc.wait()
    except KeyboardInterrupt:
        kill()
        proc.wait()
        raise
    finally:
        watchdog.cancel()
        shutil.rmtree(run_dir, ignore_errors=True)
    if timed_out.is_set():
        fail("benchmark JVM timed out")

    result = lines[-1] if lines and lines[-1].startswith("{\"correct\"") else None
    if args.gen_digest or args.fingerprint:
        sys.exit(code)
    if result is None:
        fail(f"benchmark JVM exited {code} without a result")
    load_after = loadavg()
    busy = bool(load_before and (load_before[0] >= 1.0 or load_before[1] >= 2.5))
    print(json.dumps({"provenance": {
        "head": head or "unknown", "dirty": dirty, "source_sha": digest[:16],
        "load_before": load_before, "load_after": load_after,
        "busy_at_start": busy}}), flush=True)
    print(result, flush=True)
    parsed = json.loads(result)
    if code != 0 or not parsed["correct"] or parsed["failed"] != 0:
        sys.exit(code or 1)


if __name__ == "__main__":
    main()
