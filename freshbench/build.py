"""Build file of the benchmark: compiles the program's sources
(src/main/scala) together with the benchmark's (freshbench/src) against the
Spark distribution's jars, with the Scala compiler that ships in those jars,
into .bench_build/freshbench/classes.

A stamp over every source file's path and content makes a rebuild happen
only when a source changed. Run directly to build: python3 freshbench/build.py
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"),
               os.path.join(ROOT, "freshbench", "src")]
OUT = os.path.join(ROOT, ".bench_build", "freshbench")
CLASSES = os.path.join(OUT, "classes")


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory the root build.sbt compiles
    against (its `unmanagedBase`)."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    except OSError:
        m = None
    if m is None:
        raise SystemExit("freshbench: set SPARK_HOME to a Spark distribution")
    return m.group(1)


def classpath():
    return os.pathsep.join([CLASSES, os.path.join(spark_jars(), "*")])


def sources():
    files = []
    for d in SOURCE_DIRS:
        if not os.path.isdir(d):
            raise SystemExit(f"freshbench: missing source directory {os.path.relpath(d, ROOT)}")
        for dirpath, _, names in os.walk(d):
            files += [os.path.join(dirpath, n) for n in names if n.endswith((".scala", ".java"))]
    return sorted(files)


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def ensure_built():
    """Compile unless the classes match the current sources; returns the
    classpath to run with. Exits non-zero when a source directory is missing
    or the compiler fails."""
    files = sources()
    want = stamp(files)
    stamp_file = os.path.join(OUT, "stamp")
    if os.path.isdir(CLASSES) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == want:
                return classpath()
    os.makedirs(OUT, exist_ok=True)
    staging = os.path.join(OUT, f"classes.{os.getpid()}")
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    # -XX:-UsePerfData: no hsperfdata file under /tmp
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", staging] + files
    try:
        rc = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr).returncode
        if rc != 0:
            raise SystemExit(f"freshbench: compilation failed (exit {rc})")
        shutil.rmtree(CLASSES, ignore_errors=True)
        os.replace(staging, CLASSES)
    finally:
        shutil.rmtree(staging, ignore_errors=True)
    with open(stamp_file, "w") as fh:
        fh.write(want + "\n")
    return classpath()


if __name__ == "__main__":
    ensure_built()
