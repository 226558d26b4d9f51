#!/usr/bin/env python3
"""Build the engine and the benchmark harness into one class directory.

Usage: python3 perfbench/build.py    (from the repository root)

Compiles `src/main/scala` together with `perfbench/harness` with the Scala
compiler that ships with Spark (`$SPARK_HOME/jars`), so the build needs
neither sbt nor a network. The output goes to `.bench_build/classes`; a
stamp over the sources and the toolchain skips the build when nothing
changed.
"""
import hashlib
import os
import shutil
import subprocess
import sys
import time

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")
STAMP = os.path.join(BUILD, "classes.stamp")
SOURCE_DIRS = ["src/main/scala", "src/main/resources", "perfbench/harness"]

# the module openings Spark needs on JDK 17 outside spark-submit
# (org.apache.spark.launcher.JavaModuleOptions)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def jvm_module_flags():
    return [f for p in ADD_OPENS for f in ("--add-opens", p + "=ALL-UNNAMED")]


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        sys.exit("perfbench: SPARK_HOME is not set; the build compiles against its jars")
    jars = os.path.join(home, "jars")
    if not os.path.isdir(jars):
        sys.exit(f"perfbench: no jars directory under SPARK_HOME ({jars})")
    return jars


def source_files():
    """Every file under SOURCE_DIRS, sorted, as paths relative to ROOT."""
    out = []
    for d in SOURCE_DIRS:
        if not os.path.isdir(os.path.join(ROOT, d)):
            sys.exit(f"perfbench: {d} is missing; run from the repository root")
        for dirpath, _, names in os.walk(os.path.join(ROOT, d)):
            out += [os.path.relpath(os.path.join(dirpath, n), ROOT) for n in names]
    return sorted(out)


def source_digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode() + b"\0")
        with open(os.path.join(ROOT, f), "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile if the sources or toolchain changed; return (classpath, digest)."""
    jars = spark_jars()
    files = source_files()
    digest = source_digest(files)
    toolchain = hashlib.sha256("\n".join(sorted(os.listdir(jars))).encode()).hexdigest()
    stamp = f"{digest} {toolchain}"
    classpath = CLASSES + os.pathsep + os.path.join(jars, "*")
    if os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return classpath, digest
    t0 = time.time()
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    scala = [os.path.join(ROOT, f) for f in files if f.endswith(".scala")]
    argfile = os.path.join(BUILD, "scalac.args")
    with open(argfile, "w") as fh:
        fh.write("\n".join(scala) + "\n")
    cmd = ["java", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", CLASSES,
           "@" + argfile]
    r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        sys.exit(f"perfbench: compilation failed (exit {r.returncode})")
    resources = os.path.join(ROOT, "src/main/resources")
    shutil.copytree(resources, CLASSES, dirs_exist_ok=True)
    with open(STAMP, "w") as fh:
        fh.write(stamp)
    sys.stderr.write(f"perfbench: compiled {len(scala)} files in {time.time() - t0:.1f} s\n")
    return classpath, digest


if __name__ == "__main__":
    build()
