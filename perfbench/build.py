"""Build file of the benchmark: compiles the graft library from `src/main`
and the harness from `perfbench/src` with the Scala compiler shipped in the
Spark distribution (no sbt, no network, no edit to the root build).

Outputs go to `.bench_build/` at the repository root and are reused while
the sources are unchanged (a content hash is kept beside them).

    python3 perfbench/build.py
"""
import fcntl
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".bench_build")


def spark_home():
    """$SPARK_HOME, else the installation holding `spark-submit` on PATH."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    submit = shutil.which("spark-submit")
    if not submit:
        raise SystemExit("perfbench: set SPARK_HOME or put spark-submit on PATH")
    return os.path.dirname(os.path.dirname(os.path.realpath(submit)))


SPARK_JARS = os.path.join(spark_home(), "jars")
SCALA_VERSION = "2.13.17"


def sources():
    lib = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    harness = sorted(glob.glob(os.path.join(ROOT, "perfbench/src/**/*.scala"), recursive=True))
    return lib, harness


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def scalac(dest, classpath, files):
    compiler = os.pathsep.join(
        os.path.join(SPARK_JARS, f"scala-{n}-{SCALA_VERSION}.jar")
        for n in ("compiler", "library", "reflect"))
    shutil.rmtree(dest, ignore_errors=True)
    os.makedirs(dest)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", compiler, "scala.tools.nsc.Main",
           "-nowarn", "-d", dest, "-classpath", classpath] + files
    subprocess.run(cmd, check=True, stdout=sys.stderr)


def classpath():
    """Runtime classpath: harness, library, Spark jars."""
    return os.pathsep.join([os.path.join(OUT, "harness-classes"),
                            os.path.join(OUT, "graft-classes"),
                            os.path.join(SPARK_JARS, "*")])


def build():
    """Compile what changed; returns the build's stamp (a hash of library
    and harness sources)."""
    lib, harness = sources()
    if not lib:
        raise SystemExit("perfbench: no library sources under src/main/scala")
    os.makedirs(OUT, exist_ok=True)
    with open(os.path.join(OUT, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        jars = os.path.join(SPARK_JARS, "*")
        lib_stamp = stamp(lib)
        both = lib_stamp + stamp(harness)
        step(os.path.join(OUT, "graft-classes"), lib_stamp, jars, lib)
        step(os.path.join(OUT, "harness-classes"), both,
             os.pathsep.join([os.path.join(OUT, "graft-classes"), jars]), harness)
    return hashlib.sha256(both.encode()).hexdigest()[:16]


def step(dest, want, cp, files):
    """Compile `files` into `dest` unless its stamp already matches."""
    stamp_file = dest + ".stamp"
    if os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == want:
                return
        os.remove(stamp_file)
    scalac(dest, cp, files)
    with open(stamp_file, "w") as f:
        f.write(want)


if __name__ == "__main__":
    build()
