"""Build file of the benchmark.

Compiles graft's sources (src/main/scala) together with the benchmark's
own (perfbench/src) into .bench_build/perfbench/classes, with the Scala
compiler that ships in Spark's jars directory ($SPARK_HOME/jars, or the
installation whose spark-submit is on PATH). No
network and no sbt: everything on the classpath is already on disk.
A stamp over the source contents skips the build when nothing changed.

    python3 perfbench/build.py
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
GRAFT_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSES = os.path.join(OUT, "classes")


def spark_jars():
    """The jars directory of $SPARK_HOME, else of the first spark-submit on
    PATH whose installation ships the Scala compiler."""
    homes = [os.environ.get("SPARK_HOME")]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        submit = os.path.join(d, "spark-submit")
        if os.path.isfile(submit):
            homes.append(os.path.dirname(os.path.dirname(os.path.realpath(submit))))
    for home in filter(None, homes):
        jars = os.path.join(home, "jars")
        if glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return jars
    raise SystemExit("perfbench: no Spark installation with a Scala compiler "
                     "found; set SPARK_HOME")


def sources():
    out = []
    for base in (GRAFT_SRC, BENCH_SRC):
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def stamp(srcs):
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build(log=sys.stderr):
    """Returns the classes directory, compiling first when needed."""
    if not os.path.isdir(GRAFT_SRC):
        raise SystemExit(f"perfbench: graft sources not found at {GRAFT_SRC}")
    jars = spark_jars()
    srcs = sources()
    want = stamp(srcs)
    stamp_file = os.path.join(OUT, "stamp")
    if os.path.isdir(CLASSES) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == want:
                return CLASSES
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData", "-cp", cp,
           "scala.tools.nsc.Main",
           "-nowarn", "-classpath", cp, "-d", tmp] + srcs
    print(f"perfbench: compiling {len(srcs)} sources", file=log, flush=True)
    r = subprocess.run(cmd, stdout=log, stderr=log)
    if r.returncode != 0:
        raise SystemExit(f"perfbench: compile failed ({r.returncode})")
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.replace(tmp, CLASSES)
    with open(stamp_file, "w") as f:
        f.write(want + "\n")
    return CLASSES


if __name__ == "__main__":
    print(build())
