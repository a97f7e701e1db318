#!/usr/bin/env python3
"""Build and run the kstore client/server benchmark.

Usage (from the root of a checkout):

    python3 kbench/run.py --workload perf_join --seed 1 --seconds 15 --trace 0

Workloads: perf_join, scan_math_emit, write_mix (see kbench/README.md).
The first run compiles the repository's sources together with the
harness (sbt, offline); later runs reuse the build while the sources are
unchanged. The last line of standard output is the JSON result.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "kbench.stamp")
WORKLOADS = ("perf_join", "scan_math_emit", "write_mix")
RUN_TIMEOUT_S = 178
BUILD_TIMEOUT_S = 700

# Spark on JDK 17 outside spark-submit needs these (the list build.sbt
# passes to forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print("kbench: " + msg, file=sys.stderr)
    sys.exit(code)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        die("no Spark install found (set SPARK_HOME)")
    return home


def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_env(home):
    env = dict(os.environ, SPARK_HOME=home)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        repos = os.path.expanduser("~/.sbt/repositories")
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        if os.path.isfile(repos):
            opts = ["-Dsbt.override.build.repos=true",
                    "-Dsbt.repository.config=" + repos] + opts
        env["SBT_OPTS"] = " ".join(opts)
    return env


def build(home, stamp):
    sbt = shutil.which("sbt")
    if not sbt:
        die("sbt not found on PATH")
    print("kbench: compiling (first run in this checkout)", file=sys.stderr)
    try:
        r = subprocess.run([sbt, "--batch", "-Dsbt.log.noformat=true", "compile"],
                           cwd=HERE, env=sbt_env(home), stdout=sys.stderr,
                           timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        die("build timed out", 3)
    if r.returncode != 0:
        die("build failed", 3)
    with open(STAMP, "w") as fh:
        fh.write(stamp)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", default=os.path.join(HERE, "out"),
                    help="where a traced run writes its span artifact")
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die("the program sources (src/main/scala) are not in this checkout")
    home = spark_home()
    stamp = source_stamp()
    current = None
    if os.path.isfile(STAMP):
        with open(STAMP) as fh:
            current = fh.read()
    if current != stamp or not os.path.isdir(CLASSES):
        build(home, stamp)

    work = os.path.join(HERE, "work", "%s-%d-%d" % (a.workload, a.seed, os.getpid()))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    # a fixed heap and the parallel collector: on a 4-core host they gave
    # fewer run-to-run swings than G1 with a growing heap
    cmd += ["-Xms2g", "-Xmx2g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
            "-Djava.io.tmpdir=" + tmp,
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
            "-Dspark.ui.enabled=false",
            "-cp", CLASSES + os.pathsep + os.path.join(home, "jars", "*"),
            "kbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", work, "--out", a.out]
    proc = subprocess.Popen(cmd, cwd=ROOT)

    def stop(signum, _frame):
        # never leave the JVM behind when this process is told to stop
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        code = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        die("run timed out", 4)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    sys.exit(code)


if __name__ == "__main__":
    main()
