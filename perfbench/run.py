#!/usr/bin/env python3
"""Repository benchmark: three seeded NLP workloads on local Spark.

Usage (from the repository root):

    python3 perfbench/run.py --workload span_pipeline --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selfcheck --seed 1

Builds the library and the harness from source with sbt when the sources
changed since the last build (output in .bench_build/), then launches one
JVM directly, so the result object is the last line of stdout. See
perfbench/README.md for the workloads and metrics.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("span_pipeline", "corpus_clean", "ingest_loop")

# Spark 4 on JDK 17 needs these when not launched through spark-submit.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def spark_home():
    """SPARK_HOME, or the first spark-submit on PATH that sits in a Spark
    installation (one with a jars/ directory)."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        submit = os.path.join(d, "spark-submit")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
        if os.path.isfile(submit) and os.path.isdir(os.path.join(home, "jars")):
            return home
    log("no Spark installation: set SPARK_HOME")
    sys.exit(2)


def build():
    """Compile with sbt unless the sources match the last build."""
    cp_file = os.path.join(BUILD, "target", "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp")
    want = stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == want:
                with open(cp_file) as fh:
                    return fh.read().strip()
    log("building with sbt")
    os.makedirs(BUILD, exist_ok=True)
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
        cwd=HERE, stdout=sys.stderr, stderr=sys.stderr, stdin=subprocess.DEVNULL,
        env=dict(os.environ, SPARK_HOME=spark_home()))
    if proc.returncode != 0:
        log("build failed")
        sys.exit(proc.returncode or 1)
    log(f"built in {time.time() - t0:.0f}s")
    with open(stamp_file, "w") as fh:
        fh.write(want)
    with open(cp_file) as fh:
        return fh.read().strip()


def commit():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else "unknown"
    except OSError:
        return "unknown"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", default="span_pipeline")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selfcheck", action="store_true")
    a = ap.parse_args()
    if not a.selfcheck and not a.trace and a.workload not in WORKLOADS:
        log(f"unknown workload {a.workload!r}; one of {', '.join(WORKLOADS)}")
        return 2
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        log(f"no library sources under {os.path.join(ROOT, 'src', 'main', 'scala')}")
        return 2
    classpath = build()
    work = os.path.join(BUILD, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # A fixed, pre-touched heap keeps the resident set (peak_rss_mb) from
    # following the collector's heap-sizing decisions run to run.
    # -UsePerfData: no hsperfdata file outside the checkout
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData", "-Xss4m",
           f"-Djava.io.tmpdir={work}/tmp",
           "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work,
            "--reports", os.path.join(BUILD, "reports"), "--commit", commit()]
    if a.selfcheck:
        cmd.append("--selfcheck")
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "local"))
    # on SIGTERM, stop the JVM too (SystemExit unwinds through proc.wait)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        cmd += ["--launch-ns", str(time.time_ns())]
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdin=subprocess.DEVNULL)
        try:
            return proc.wait()
        except BaseException:
            proc.kill()
            proc.wait()
            raise
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
