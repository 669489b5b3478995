#!/usr/bin/env python3
"""Run one closed-loop benchmark workload of the graft engine.

    python3 loadbench/run.py --workload assess --seed 1 --seconds 8 --trace 0

Run it from the repository root. The first run compiles the engine's
sources (src/main/scala) together with the benchmark's drivers
(loadbench/src/main/scala) with sbt; later runs reuse the build while no
source file changed. Each run is one fresh JVM; its last stdout line is the
result record.
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "build-stamp")
WORK = os.path.join(HERE, "work")
HEAP = "3g"
# JIT flags per workload. `assess` runs C1 only, with room for its code:
# its 44 concurrent checks keep the C2 compiler busy on about two cores for
# the whole one-minute JVM (measured: 110 s of compile time in a 48 s window
# of scorecards), so a scorecard's time tracked JIT progress, and run-to-run
# spread was 0.22. With C1 it reaches a plateau within the warm-up. The
# store workload's smaller hot code settles under C2 during its warm-up and
# runs slower and less steadily with C1, so it keeps the default.
JIT = {"assess": ["-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=400m"]}
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 175

# what spark-submit adds for Spark 4 on JDK 17
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code):
    print(f"loadbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars") if home else None
    if not jars or not os.path.isdir(jars):
        fail("no Spark distribution found: set SPARK_HOME", 4)
    return jars


def source_stamp():
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(HERE, "src", "main"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for root in roots:
        paths = [root] if os.path.isfile(root) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(jars):
    stamp = source_stamp()
    if os.path.isdir(CLASSES) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == stamp:
                return
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", f"-Dloadbench.sparkJars={jars}", "compile"]
    try:
        r = subprocess.run(cmd, cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out", 3)
    except FileNotFoundError:
        fail("sbt is not on PATH", 3)
    if r.returncode != 0:
        sys.stderr.write(r.stdout.decode(errors="replace")[-4000:])
        fail("build failed", 3)
    with open(STAMP, "w") as fh:
        fh.write(stamp)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        fail(f"the engine's sources are missing under {os.path.relpath(ENGINE_SRC, os.getcwd())}", 2)
    jars = spark_jars()
    build(jars)

    java_home = os.environ.get("JAVA_HOME")
    java = os.path.join(java_home, "bin", "java") if java_home else "java"
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}", *JIT.get(a.workload, []), f"-Djava.io.tmpdir={tmp}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join([CLASSES, os.path.join(jars, "*")]), "loadbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--work", os.path.join(WORK, "run")]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        shutil.rmtree(WORK, ignore_errors=True)
        fail(f"run exceeded {RUN_TIMEOUT_S} s", 5)
    shutil.rmtree(WORK, ignore_errors=True)
    lines = [l for l in out.decode(errors="replace").splitlines() if l.strip()]
    for l in lines[:-1]:
        print(l)
    if proc.returncode != 0 or not lines or not lines[-1].startswith('{"correct"'):
        for l in lines[-1:]:
            print(l, file=sys.stderr)
        fail(f"run failed with exit code {proc.returncode}", 6)
    print(lines[-1])


if __name__ == "__main__":
    main()
