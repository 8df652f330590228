#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine's sources (src/main/scala)
together with the benchmark's JVM driver (perfbench/src) with the Scala
compiler that ships in Spark's jars directory, into .bench_build/. A build
is reused while no source file changed.

    python3 perfbench/build.py        # prints the classes directory
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
SCALA = "2.13.17"


class BuildError(Exception):
    pass


def spark_jars():
    jars = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
    if not os.path.isfile(os.path.join(jars, f"scala-compiler-{SCALA}.jar")):
        raise BuildError(f"no scala-compiler-{SCALA}.jar in {jars} (set SPARK_HOME)")
    return jars


def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                              recursive=True))
    if not any(p.endswith(os.path.join("graft", "SparkEntry.scala")) for p in engine):
        raise BuildError(f"engine sources not found under {ROOT}/src/main/scala")
    return engine + sorted(glob.glob(os.path.join(HERE, "src", "*.scala")))


def digest(files):
    h = hashlib.sha256()
    for f in files + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def ensure_built():
    """Returns (classes_dir, source_digest), compiling when sources changed."""
    jars = spark_jars()
    files = sources()
    want = digest(files)
    classes = os.path.join(BUILD, "classes")
    stamp = os.path.join(BUILD, "stamp")
    if os.path.isfile(stamp) and open(stamp).read() == want and os.path.isdir(classes):
        return classes, want
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    compiler = ":".join(os.path.join(jars, f"scala-{m}-{SCALA}.jar")
                        for m in ("compiler", "library", "reflect"))
    cp = ":".join(sorted(glob.glob(os.path.join(jars, "*.jar"))))
    cmd = ["java", "-Xss8m", "-Xmx3g", "-cp", compiler, "scala.tools.nsc.Main",
           "-usejavacp:false", "-nowarn", "-classpath", cp, "-d", tmp, "@" + argfile]
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        raise BuildError("scalac failed:\n" + res.stdout[-4000:])
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp, "w") as fh:
        fh.write(want)
    return classes, want


if __name__ == "__main__":
    try:
        print(ensure_built()[0])
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
