#!/usr/bin/env python3
"""Build file of the ORBIT benchmark.

Compiles the engine sources (src/main/scala) together with the
benchmark's own sources (perfbench/src) into .bench_build/perfbench,
with the Scala compiler that ships inside Spark's jars directory — no
sbt, no dependency resolution, nothing fetched. A stamp over the source
contents skips the compile when nothing changed.

    python3 perfbench/build.py          # prints the classes directory
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH_SRC = os.path.join(ROOT, "perfbench", "src")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
OUT = os.path.join(ROOT, ".bench_build", "perfbench")


class BuildError(Exception):
    pass


def spark_jars():
    """Spark's jars directory: $SPARK_HOME/jars, else next to spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars") if home else ""
    if not jars or not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        raise BuildError("Spark jars not found: set SPARK_HOME")
    return jars


def sources():
    if not os.path.isdir(ENGINE_SRC):
        raise BuildError("engine sources missing: %s" % ENGINE_SRC)
    files = []
    for base in (ENGINE_SRC, BENCH_SRC):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def build():
    """Compile if needed; return (classes dir, classpath)."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for f in srcs:
        h.update(f[len(ROOT):].encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    classes = os.path.join(OUT, "classes")
    stamp_file = os.path.join(OUT, "stamp")
    classpath = classes + os.pathsep + os.path.join(jars, "*")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes, classpath
    shutil.rmtree(OUT, ignore_errors=True)
    os.makedirs(classes)
    compiler = glob.glob(os.path.join(jars, "scala-compiler-*.jar"))
    library = glob.glob(os.path.join(jars, "scala-library-*.jar"))
    reflect = glob.glob(os.path.join(jars, "scala-reflect-*.jar"))
    if not (compiler and library and reflect):
        raise BuildError("no Scala compiler in %s" % jars)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xss16m", "-Xmx2g", "-XX:-UsePerfData",
           "-cp", os.pathsep.join(compiler + library + reflect),
           "scala.tools.nsc.Main", "-nowarn", "-d", classes,
           "-classpath", os.pathsep.join(sorted(glob.glob(os.path.join(jars, "*.jar")))),
           "@" + argfile]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-8000:])
        shutil.rmtree(OUT, ignore_errors=True)
        raise BuildError("scalac failed (exit %d)" % proc.returncode)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return classes, classpath


if __name__ == "__main__":
    try:
        print(build()[0])
    except BuildError as e:
        sys.exit("build failed: %s" % e)
