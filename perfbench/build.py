#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (src/main/scala) and the
harness (perfbench/src) with the Scala compiler that ships in Spark's jars,
packs them into .bench_build/perfbench/perfbench.jar, and records a class-data
sharing archive (app.jsa) from one short training run, so each benchmark JVM
loads Spark's classes from the archive instead of parsing them again.
Rebuilds only when a source changed.

    python3 perfbench/build.py
"""
import hashlib
import os
import zipfile
import shutil
import subprocess
import sys

ROOT = os.getcwd()
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSES = os.path.join(OUT, "classes")
JAR = os.path.join(OUT, "perfbench.jar")
ARCHIVE = os.path.join(OUT, "app.jsa")
STAMP = os.path.join(OUT, "stamp")
# Spark on JDK 17 outside spark-submit needs the module opens spark-submit adds.
OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
         "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
         "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
         "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
         "java.base/sun.util.calendar"]
SOURCE_DIRS = [os.path.join("src", "main", "scala"), os.path.join("perfbench", "src")]


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else next to spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(shutil.which("spark-submit")))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        sys.exit("perfbench: set SPARK_HOME (Spark's jars provide the compiler and the runtime)")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def sources():
    for d in SOURCE_DIRS:
        if not os.path.isdir(os.path.join(ROOT, d)):
            sys.exit(f"perfbench: {d} is missing; run from the root of a checkout")
    files = []
    for d in SOURCE_DIRS:
        for base, _, names in os.walk(os.path.join(ROOT, d)):
            files += [os.path.join(base, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def jvm(*extra):
    """The harness JVM command line, up to the main class arguments."""
    tmp = os.path.join(OUT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed heap, touched at start-up: the measured build does not pay
    # for page faults on fresh heap
    cmd = [java(), "-Xms3g", "-Xmx3g", "-XX:+AlwaysPreTouch", "-Xss4m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-Xlog:disable", "-Xlog:all=warning:stderr"] + list(extra)
    for p in OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-cp", JAR + os.pathsep + os.path.join(spark_jars(), "*"), "perfbench.Main",
                  "--root", OUT]


def build():
    """Compiles, packs and trains when a source changed."""
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    if os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return
    for f in (STAMP, ARCHIVE, JAR):
        if os.path.exists(f):
            os.remove(f)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    cmd = [java(), "-Xss16m", "-Xmx2g", "-XX:-UsePerfData",
           "-cp", os.path.join(spark_jars(), "*"), "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", CLASSES] + files
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        sys.exit(f"perfbench: compile failed ({r.returncode})")
    with zipfile.ZipFile(JAR, "w") as z:
        for base, _, names in os.walk(CLASSES):
            for n in names:
                z.write(os.path.join(base, n), os.path.relpath(os.path.join(base, n), CLASSES))
    # a short run of the index workload loads the classes a benchmark run
    # needs; the JVM writes them to the archive at exit
    r = subprocess.run(jvm(f"-XX:ArchiveClassesAtExit={ARCHIVE}") + ["--train"],
                       stdout=sys.stderr, stderr=sys.stderr, timeout=600)
    if r.returncode != 0:
        sys.exit(f"perfbench: training run failed ({r.returncode})")
    with open(STAMP, "w") as fh:
        fh.write(stamp)


if __name__ == "__main__":
    build()
