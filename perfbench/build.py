#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program's Scala sources
(`src/main/scala`) together with the benchmark's own harness
(`perfbench/src`) with the Scala compiler that ships in Spark's jar
directory. Classes go to `.bench_build/perfbench/classes-<hash>`, keyed by
the sources, so an unchanged tree is compiled once.

Usage: build.py            (prints the classes directory)
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
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")


def _spark_jars():
    """Spark's jar directory: $SPARK_JARS, else the `unmanagedBase` the
    program's own build.sbt compiles against, else $SPARK_HOME/jars."""
    if os.environ.get("SPARK_JARS"):
        return os.environ["SPARK_JARS"]
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m:
            return m.group(1)
    except OSError:
        pass
    home = os.environ.get("SPARK_HOME")
    return os.path.join(home, "jars") if home else ""


SPARK_JARS = _spark_jars()


class BuildError(Exception):
    pass


def sources():
    prog = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                            recursive=True))
    if not prog:
        raise BuildError("no program sources under src/main/scala")
    own = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    return prog + own


def spark_classpath():
    jars = sorted(glob.glob(os.path.join(SPARK_JARS, "*.jar")))
    if not jars:
        raise BuildError("no Spark jars in %s" % SPARK_JARS)
    return jars


def compiler_jars(jars):
    want = ("scala-compiler-", "scala-library-", "scala-reflect-")
    found = [j for j in jars if os.path.basename(j).startswith(want)]
    if len(found) != 3:
        raise BuildError("Scala compiler jars not found in %s" % SPARK_JARS)
    return found


def build(log=sys.stderr):
    srcs = sources()
    jars = spark_classpath()
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    for j in jars:
        h.update(os.path.basename(j).encode())
    out = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    if os.path.isdir(out):
        return out
    os.makedirs(BUILD, exist_ok=True)
    for old in glob.glob(os.path.join(BUILD, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", ":".join(compiler_jars(jars)),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-cp", ":".join(jars)] + srcs
    print("perfbench: compiling %d sources" % len(srcs), file=log, flush=True)
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    os.rename(tmp, out)
    return out


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print("perfbench build: %s" % e, file=sys.stderr)
        sys.exit(2)
