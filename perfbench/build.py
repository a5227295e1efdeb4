#!/usr/bin/env python3
"""Build of the benchmark.

    python3 perfbench/build.py

Run from the root of a checkout. Compiles the engine's main sources
(src/main/scala) together with the benchmark's own (perfbench/src) into
.bench_build/perfbench/classes, with the Scala compiler that ships in the
Spark distribution's jars directory. Spark's jars are the whole classpath,
so the build resolves nothing and needs neither sbt nor a network. It
recompiles only when a source or the set of Spark jars changed; run.py calls
it before every run. Prints the run classpath.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSES = os.path.join(BUILD, "classes")
COMPILE_LIMIT_S = 600


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """The jars directory of SPARK_HOME, of the Spark whose spark-submit is
    on PATH, or of an installed pyspark package, in that order."""
    homes = [os.environ.get("SPARK_HOME")]
    submit = shutil.which("spark-submit")
    if submit:
        homes.append(os.path.dirname(os.path.dirname(os.path.realpath(submit))))
    try:
        import pyspark
        homes.append(os.path.dirname(pyspark.__file__))
    except ImportError:
        pass
    for home in filter(None, homes):
        jars = os.path.join(home, "jars")
        if glob.glob(os.path.join(jars, "spark-sql_*.jar")):
            return jars
    fail("no Spark distribution: set SPARK_HOME or put spark-submit on PATH")


def java():
    j = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else shutil.which("java")
    if not j or not os.path.exists(j):
        fail("no java found: set JAVA_HOME or put java on PATH")
    return j


def sources():
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        fail(f"no engine sources under {os.path.relpath(ENGINE_SRC, os.getcwd())}: "
             "run from the root of a full checkout")
    files = []
    for top in (ENGINE_SRC, os.path.join(HERE, "src")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def stamp(files, jars):
    h = hashlib.sha256()
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles unless the sources are unchanged; returns the run classpath."""
    files, jars = sources(), spark_jars()
    classpath = os.pathsep.join([CLASSES, os.path.join(jars, "*")])
    stamp_file = os.path.join(BUILD, "stamp")
    want = stamp(files, jars)
    if os.path.isdir(CLASSES) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == want:
                return classpath
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        fail(f"no Scala compiler in {jars}")
    os.makedirs(BUILD, exist_ok=True)
    out, tmp = CLASSES + ".new", os.path.join(BUILD, "compile-tmp")
    for d in (out, tmp):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    args = os.path.join(BUILD, "sources.txt")
    with open(args, "w") as f:
        f.write("\n".join(files) + "\n")
    log = os.path.join(BUILD, "build.log")
    cmd = [java(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main", "-nowarn",
           "-d", out, "-classpath", os.path.join(jars, "*"), "@" + args]
    with open(log, "w") as lf:
        try:
            r = subprocess.run(cmd, cwd=ROOT, stdout=lf, stderr=subprocess.STDOUT,
                               stdin=subprocess.DEVNULL, timeout=COMPILE_LIMIT_S)
        except subprocess.TimeoutExpired:
            fail(f"compiling took over {COMPILE_LIMIT_S} s (log: {log})")
    shutil.rmtree(tmp, ignore_errors=True)
    if r.returncode != 0:
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-30:]))
        fail(f"build failed (log: {log})")
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(out, CLASSES)
    with open(stamp_file, "w") as f:
        f.write(want)
    return classpath


if __name__ == "__main__":
    print(build())
