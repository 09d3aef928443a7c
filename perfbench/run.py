#!/usr/bin/env python3
"""KG-construction benchmark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. Builds the library and the benchmark's
own code from source with sbt on first use, then records a class-data-
sharing archive of the classes a run loads (the build and the archive
are reused while the sources are unchanged). Then runs one workload in a
fresh JVM at local[nproc] and prints one JSON object as the last line of
stdout:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones, with --trace 1 the per-layer ones. Exits non-zero
without a result line if the build, the run or its time limit fails.
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("crawl_distinct", "entity_dense", "stream_ingest")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 480
ARCHIVE_TIMEOUT_S = 240
HEAP = "3g"

# JDK 17 module opens Spark needs outside spark-submit
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
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(1)


def build_inputs():
    """Every file the build reads, in a stable order."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def java_cmd(classpath, tmp, *flags):
    """The JVM every run uses: a fixed pre-touched heap, scratch space
    under `tmp`, no perf-data file (it would go to the system temp dir),
    JVM log lines on stderr so stdout carries only results."""
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
           "-Xlog:disable", "-Xlog:all=warning:stderr", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC", *flags]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-cp", classpath]


def record_archive(classpath, archive):
    """Run perfbench.Archive (every workload's code path on small inputs)
    in a JVM that writes the classes it loaded to `archive` at exit."""
    work = os.path.join(HERE, ".work", "archive")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = java_cmd(classpath, os.path.join(work, "tmp"),
                   f"-XX:ArchiveClassesAtExit={archive}") + \
        ["perfbench.Archive", os.path.join(work, "runs")]
    try:
        rc = subprocess.run(cmd, cwd=ROOT, stdout=sys.stderr, stderr=sys.stderr,
                            stdin=subprocess.DEVNULL, timeout=ARCHIVE_TIMEOUT_S).returncode
    except subprocess.TimeoutExpired:
        fail("class archive pass timed out")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if rc != 0 or not os.path.exists(archive):
        fail(f"class archive pass failed (exit {rc})")


def build():
    """Compile with sbt and record the class archive unless the sources
    are unchanged since the last build; return (classpath, archive,
    source digest)."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("no library sources next to the benchmark (expected src/main/scala)")
    h = hashlib.sha256()
    for f in build_inputs():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    digest = h.hexdigest()[:16]
    target = os.path.join(HERE, "target")
    cp_file = os.path.join(target, "classpath.txt")
    archive = os.path.join(target, "classes.jsa")
    stamp = os.path.join(target, "build.stamp")
    if all(os.path.exists(f) for f in (cp_file, archive, stamp)):
        with open(stamp) as fh:
            if fh.read() == digest:
                with open(cp_file) as cf:
                    return cf.read().strip(), archive, digest
    if shutil.which("sbt") is None:
        fail("sbt not found on PATH")
    for f in (stamp, archive):
        if os.path.exists(f):
            os.remove(f)
    cmd = ["sbt", "-batch", "-Dsbt.server.autostart=false", "writeClasspath"]
    try:
        rc = subprocess.run(cmd, cwd=HERE, stdout=sys.stderr, stderr=sys.stderr,
                            stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S).returncode
    except subprocess.TimeoutExpired:
        fail("build timed out")
    if rc != 0 or not os.path.exists(cp_file):
        fail(f"build failed (sbt exit {rc})")
    with open(cp_file) as cf:
        classpath = cf.read().strip()
    record_archive(classpath, archive)
    with open(stamp, "w") as fh:
        fh.write(digest)
    return classpath, archive, digest


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    args = ap.parse_args()
    if args.seconds < 1:
        fail("--seconds must be at least 1")

    classpath, archive, digest = build()
    work = os.path.join(HERE, ".work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)

    cmd = java_cmd(classpath, tmp, f"-XX:SharedArchiveFile={archive}") + [
        "perfbench.Bench", "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", args.trace, "--work", work]
    env = dict(os.environ, PERFBENCH_BUILD=digest)
    try:
        res = subprocess.run(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                             stderr=sys.stderr, stdin=subprocess.DEVNULL,
                             timeout=RUN_TIMEOUT_S, text=True)
    except subprocess.TimeoutExpired:
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in res.stdout.splitlines() if l.startswith('{"correct"')]
    if res.returncode != 0 or not lines:
        sys.stderr.write(res.stdout)
        fail(f"run failed (exit {res.returncode})")
    print(lines[-1])


if __name__ == "__main__":
    main()
