"""Build file of the benchmark: compiles the program and the benchmark.

The program's sources (``src/main/scala``) and the benchmark's own
(``perfbench/src``) are compiled together with the Scala compiler that ships
in Spark's jar directory, into ``.bench_build/classes-<digest>``.  The digest
covers every source file, so an edited tree is rebuilt and an unchanged one
is reused.  The program's resources are copied next to the classes.

    python3 perfbench/build.py        # prints the class directory
"""

import glob
import hashlib
import os
import shutil
import subprocess
import sys

BUILD_DIR = ".bench_build"
PROGRAM_SOURCES = os.path.join("src", "main", "scala")
PROGRAM_RESOURCES = os.path.join("src", "main", "resources")
BENCH_SOURCES = os.path.join("perfbench", "src")


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = sorted(glob.glob(os.path.join(home or "", "jars", "*.jar")))
    if not jars:
        raise BuildError("no Spark jars found (set SPARK_HOME)")
    return jars


def sources(root, suffix):
    out = []
    for d, _, files in os.walk(root):
        out.extend(os.path.join(d, f) for f in files if f.endswith(suffix))
    return sorted(out)


def build():
    """Compile if needed; return the class directory."""
    if not os.path.isdir(PROGRAM_SOURCES):
        raise BuildError(f"program sources missing: {PROGRAM_SOURCES}")
    srcs = sources(PROGRAM_SOURCES, ".scala") + sources(BENCH_SOURCES, ".scala")
    resources = sources(PROGRAM_RESOURCES, "") if os.path.isdir(PROGRAM_RESOURCES) else []
    h = hashlib.sha256()
    for path in srcs + resources:
        h.update(path.encode())
        with open(path, "rb") as f:
            h.update(f.read())
    out = os.path.join(BUILD_DIR, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, "_BUILD_OK")):
        return out
    for old in glob.glob(os.path.join(BUILD_DIR, "classes-*")):
        shutil.rmtree(old)
    os.makedirs(out)
    jars = spark_jars()
    compiler = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    if len(compiler) != 3:
        raise BuildError("scala-compiler/library/reflect not found among Spark jars")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", out,
           "-classpath", os.pathsep.join(jars)] + srcs
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        raise BuildError("scalac failed:\n" + proc.stdout[-4000:])
    for path in resources:
        dest = os.path.join(out, os.path.relpath(path, PROGRAM_RESOURCES))
        os.makedirs(os.path.dirname(dest), exist_ok=True)
        shutil.copyfile(path, dest)
    open(os.path.join(out, "_BUILD_OK"), "w").close()
    return out


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        sys.exit(f"build failed: {e}")
