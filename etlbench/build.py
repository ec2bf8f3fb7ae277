"""Build file of the benchmark: compiles the program (src/main/scala of the
checkout) together with the harness (etlbench/src) into one class
directory with the Scala compiler that ships in the Spark distribution.

    python3 etlbench/build.py          # from the checkout root

The build is skipped when the sources have not changed since the last one.
"""

import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
PROGRAM_RESOURCES = os.path.join(ROOT, "src", "main", "resources")
HARNESS_SRC = os.path.join(HERE, "src")
BUILD_DIR = os.path.join(ROOT, ".bench_build", "etlbench")
CLASSES = os.path.join(BUILD_DIR, "classes")
STAMP = os.path.join(BUILD_DIR, "classes.stamp")


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        raise SystemExit("build: SPARK_HOME is not set")
    jars = os.path.join(home, "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit("build: no Spark distribution with a Scala compiler "
                         "at %s (set SPARK_HOME)" % jars)
    return jars


def sources():
    if not os.path.isdir(PROGRAM_SRC):
        raise SystemExit("build: program sources not found at %s" % PROGRAM_SRC)
    out = []
    for base in (PROGRAM_SRC, HARNESS_SRC):
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def classpath():
    """Runtime classpath: compiled classes, program resources, Spark."""
    return os.pathsep.join([CLASSES, PROGRAM_RESOURCES,
                            os.path.join(spark_jars(), "*")])


def build(log=sys.stderr):
    os.makedirs(BUILD_DIR, exist_ok=True)
    srcs = sources()
    digest = hashlib.sha256()
    for s in srcs:
        digest.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            digest.update(f.read())
    stamp = digest.hexdigest()
    if os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return
    jars = os.path.join(spark_jars(), "*")
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD_DIR, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    print("build: compiling %d sources" % len(srcs), file=log, flush=True)
    r = subprocess.run(
        ["java", "-Xss8m", "-Xmx3g", "-cp", jars, "scala.tools.nsc.Main",
         "-nowarn", "-d", tmp, "-classpath", jars, "@" + argfile],
        stdout=log, stderr=log)
    if r.returncode != 0:
        raise SystemExit("build: scalac failed with exit code %d" % r.returncode)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.replace(tmp, CLASSES)
    with open(STAMP, "w") as f:
        f.write(stamp)


if __name__ == "__main__":
    build()
