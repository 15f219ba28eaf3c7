#!/usr/bin/env python3
"""Sync-pipeline benchmark launcher.

Usage (from the repository root):

    python3 perfbench/run.py --workload catalog_sync --seed 1 --seconds 20 --trace 0

Compiles the engine (`src/main/scala`) together with the harness
(`perfbench/src`) with the Scala compiler that ships in Spark's jar
directory, caching the classes under `$CARGO_TARGET_DIR` (default
`.bench_build`), then runs the harness in a fresh JVM against a fresh work
directory under `.bench_work/`. The work directory is deleted when the run
ends. The harness's log goes to stderr; the last line of stdout is the
result object.
"""

import argparse
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("catalog_sync", "index_churn")
RUN_TIMEOUT_S = 170
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


def sources():
    dirs = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
    for d in dirs:
        if not os.path.isdir(d):
            fail(f"missing source directory {os.path.relpath(d, ROOT)}")
    out = []
    for d in dirs:
        for base, _, files in os.walk(d):
            out += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the `unmanagedBase`
    the project's build.sbt compiles against."""
    if "SPARK_HOME" in os.environ:
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        build_sbt = os.path.join(ROOT, "build.sbt")
        m = os.path.isfile(build_sbt) and re.search(
            r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(build_sbt).read())
        if not m:
            fail("set SPARK_HOME (no unmanagedBase in build.sbt)")
        jars = m.group(1)
    compiler = os.path.join(jars, "scala-compiler-2.13.17.jar")
    if not os.path.isfile(compiler):
        fail(f"no Scala 2.13.17 compiler in {jars} (set SPARK_HOME)")
    return jars


def build(jars):
    """Compile once per source tree; the stamp is a hash of every source."""
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(s.encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    out = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"),
                       "perfbench")
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "stamp")
    if (os.path.isdir(classes) and os.path.isfile(stamp_file)
            and open(stamp_file).read() == stamp):
        return classes
    tmp = os.path.join(out, "classes.tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    args_file = os.path.join(out, "sources.txt")
    with open(args_file, "w") as f:
        f.write("\n".join(srcs) + "\n")
    scala = ":".join(os.path.join(jars, f"scala-{m}-2.13.17.jar")
                     for m in ("compiler", "library", "reflect"))
    t0 = time.time()
    r = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-cp", scala, "scala.tools.nsc.Main",
         "-nowarn", "-d", tmp, "-classpath", os.path.join(jars, "*"),
         "@" + args_file],
        stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        fail("compilation failed")
    shutil.rmtree(classes, ignore_errors=True)
    os.replace(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    print(f"perfbench: compiled {len(srcs)} sources in {time.time() - t0:.1f}s",
          file=sys.stderr)
    return classes


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    jars = spark_jars()
    classes = build(jars)
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))
    work_root = os.path.join(ROOT, ".bench_work")
    os.makedirs(work_root, exist_ok=True)
    work = os.path.join(work_root, f"run-{os.getpid()}-{time.time_ns()}")
    os.makedirs(os.path.join(work, "tmp"))
    result = os.path.join(work, "result.json")
    cmd = (["java", "-Xmx3g", f"-Djava.io.tmpdir={work}/tmp",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classes + ":" + os.path.join(jars, "*"), "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--cpus", cpus, "--work", work, "--out", result])
    try:
        proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr,
                                cwd=work)
        try:
            code = proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"run exceeded {RUN_TIMEOUT_S}s")
        if code != 0 or not os.path.isfile(result):
            fail(f"harness exited with code {code}")
        with open(result) as f:
            out = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(work_root)
        except OSError:
            pass
    print(json.dumps(out, separators=(",", ":")))
    sys.exit(0 if out["correct"] and out["failed"] == 0 else 1)


if __name__ == "__main__":
    main()
