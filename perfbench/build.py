#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (`src/main/scala`) and
the benchmark's own JVM sources (`perfbench/src`) with the Scala compiler
that ships in Spark's jar directory, into `perfbench/.build/classes-<hash>`.

The hash covers every source file, so an unchanged tree is never rebuilt
and a changed one never runs stale classes. Spark is found through
`SPARK_HOME`, or else through `spark-submit` on the PATH.

    python3 perfbench/build.py        # prints the classpath
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = sorted(glob.glob(os.path.join(home or "", "jars", "*.jar")))
    if not any("scala-compiler" in os.path.basename(j) for j in jars):
        raise BuildError("no Spark distribution with a Scala compiler found "
                         "(set SPARK_HOME)")
    return jars


def sources():
    if not os.path.isdir(SOURCE_DIRS[0]):
        raise BuildError(f"engine sources not found under {os.path.relpath(SOURCE_DIRS[0])}")
    files = []
    for d in SOURCE_DIRS:
        files += glob.glob(os.path.join(d, "**", "*.scala"), recursive=True)
    return sorted(files)


def build(log=sys.stderr):
    """Compile if needed; return the JVM classpath (classes + Spark jars)."""
    jars = spark_jars()
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    out = os.path.join(BUILD, f"classes-{h.hexdigest()[:16]}")
    stamp = os.path.join(out, ".complete")
    cp = os.pathsep.join([out] + jars)
    if os.path.exists(stamp):
        return cp
    for old in glob.glob(os.path.join(BUILD, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    os.makedirs(out)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(f'"{f}"' for f in files))
    print(f"[build] compiling {len(files)} sources", file=log, flush=True)
    res = subprocess.run(
        ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={BUILD}",
         "-cp", os.pathsep.join(jars), "scala.tools.nsc.Main",
         "-nowarn", "-d", out, "-classpath", os.pathsep.join(jars), f"@{argfile}"],
        stdout=log, stderr=log)
    if res.returncode != 0:
        shutil.rmtree(out, ignore_errors=True)
        raise BuildError(f"scalac failed with code {res.returncode}")
    open(stamp, "w").close()
    return cp


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        sys.exit(f"build failed: {e}")
