"""Build file of the benchmark.

Compiles the library's sources (src/main/scala) together with the
benchmark's own (perfbench/src) using the Scala compiler that ships in the
Spark distribution's jars directory ($SPARK_HOME/jars, or that of the
distribution whose spark-submit is on PATH).
Classes go to .bench_build/perfbench/classes under the checkout; a stamp of
every source's content skips the compile when nothing changed.

    python3 perfbench/build.py      # build (or confirm up to date)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSES = os.path.join(OUT, "classes")
LIBRARY = os.path.join(ROOT, "src", "main", "scala")
# the JVM would otherwise keep a performance-counter file outside the checkout
NO_PERF_FILE = "-XX:-UsePerfData"


class BuildError(Exception):
    pass


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        raise BuildError("no java executable (set JAVA_HOME or put java on PATH)")
    return exe


def spark_jars():
    homes = [os.environ["SPARK_HOME"]] if os.environ.get("SPARK_HOME") else [
        os.path.dirname(os.path.realpath(d)) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        jars = os.path.join(home, "jars")
        if glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return jars
    raise BuildError("no Spark distribution with a Scala compiler (set SPARK_HOME)")


def sources():
    if not os.path.isfile(os.path.join(LIBRARY, "graft", "api", "GraftClient.scala")):
        raise BuildError(f"the library's sources are missing: {LIBRARY}/graft/api/GraftClient.scala")
    files = []
    for base in (LIBRARY, os.path.join(HERE, "src")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def stamp(files):
    h = hashlib.sha256()
    for f in files + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compiles when a source changed; returns the classpath to run with."""
    jars = spark_jars()
    files = sources()
    want = stamp(files)
    stamp_file = os.path.join(OUT, "STAMP")
    classpath = CLASSES + os.pathsep + os.path.join(jars, "*")
    if os.path.isdir(CLASSES) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == want:
                return classpath
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cmd = [java(), "-Xss16m", "-Xmx2g", NO_PERF_FILE, "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", os.path.join(jars, "*"), "@" + argfile]
    print(f"perfbench: compiling {len(files)} sources", file=sys.stderr, flush=True)
    done = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if done.returncode != 0:
        raise BuildError(f"scalac exited with {done.returncode}")
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    with open(stamp_file, "w") as fh:
        fh.write(want + "\n")
    return classpath


if __name__ == "__main__":
    try:
        build()
    except BuildError as e:
        sys.exit(f"perfbench build: {e}")
