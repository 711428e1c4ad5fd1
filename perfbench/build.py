#!/usr/bin/env python3
"""Build file of the benchmark: compiles graft's sources (src/main/scala) and
the benchmark's own (perfbench/src/main/scala) into one class directory with
the Scala compiler that ships in the Spark distribution's jars.

    python3 perfbench/build.py        # prints the class directory

The output goes under $CARGO_TARGET_DIR (default .bench_build) in the
checkout, keyed by a hash of every source file, so an unchanged tree builds
once. The Spark jars come from $SPARK_HOME, else from the directory
graft's build.sbt compiles against.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"),
               os.path.join(HERE, "src", "main", "scala")]


class BuildError(Exception):
    pass


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory graft's own build.sbt uses."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    except OSError:
        m = None
    if not m:
        raise BuildError("set SPARK_HOME to a Spark distribution")
    return m.group(1)


def spark_classpath():
    jars = spark_jars()
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise BuildError(f"no Spark distribution with a Scala compiler at {jars}")
    return os.path.join(jars, "*")


def build_root():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")


def sources():
    files = []
    for d in SOURCE_DIRS:
        found = sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))
        if not found:
            raise BuildError(f"no Scala sources under {os.path.relpath(d, ROOT)}")
        files += found
    return files


def source_hash(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def ensure_built(log=sys.stderr):
    """Returns (class directory, source hash), compiling when needed."""
    files = sources()
    digest = source_hash(files)
    out = os.path.join(build_root(), "perfbench", "classes-" + digest[:16])
    if os.path.isfile(os.path.join(out, ".complete")):
        return out, digest
    cp = spark_classpath()
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(tmp, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    print(f"[perfbench] compiling {len(files)} Scala files", file=log, flush=True)
    proc = subprocess.run(
        ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData",
         f"-Djava.io.tmpdir={tmp}", "-cp", cp, "scala.tools.nsc.Main",
         "-nowarn", "-d", tmp, "-cp", cp, "@" + argfile],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        raise BuildError("scalac failed:\n" + proc.stdout[-4000:])
    os.remove(argfile)
    open(os.path.join(tmp, ".complete"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out, digest


if __name__ == "__main__":
    try:
        print(ensure_built()[0])
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(1)
