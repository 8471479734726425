#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the engine sources (src/main/scala) together with the benchmark
sources (perfbench/src) with the Scala compiler that ships in the Spark
distribution, into .bench_build/perfbench/classes-<hash>. The hash covers
every source file, so a changed engine or benchmark rebuilds and an
unchanged one reuses its classes.

Usage: python3 perfbench/build.py   (run.py calls it on demand)
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")


class BuildError(Exception):
    pass


def spark_jars(root=ROOT):
    """The Spark jars the engine builds against: the `unmanagedBase`
    directory build.sbt names, else $SPARK_HOME/jars."""
    sbt = os.path.join(root, "build.sbt")
    if os.path.exists(sbt):
        with open(sbt) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    raise BuildError("Spark jars not found: no unmanagedBase in build.sbt and no SPARK_HOME")


RESOURCES = os.path.join(ROOT, "src", "main", "resources")


def sources(root=ROOT):
    engine = os.path.join(root, "src", "main", "scala")
    bench = os.path.join(root, "perfbench", "src")
    if not os.path.isdir(engine):
        raise BuildError(f"engine sources not found at {engine}")
    out = []
    for base in (engine, bench):
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def resources():
    out = []
    for d, _, files in os.walk(RESOURCES):
        out += [os.path.join(d, f) for f in files]
    return sorted(out)


def source_hash(files, root=ROOT):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def classpath(classes):
    return f"{classes}{os.pathsep}{os.path.join(spark_jars(), '*')}"


def ensure_classes():
    """Returns (classes dir, source hash), compiling when needed."""
    files = sources()
    digest = source_hash(files + resources())
    out = os.path.join(BUILD, f"classes-{digest}")
    if os.path.exists(os.path.join(out, ".ok")):
        return out, digest
    cp = os.path.join(spark_jars(), "*")
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-d", tmp, "-classpath", cp, "-deprecation:false"] + files
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("compilation failed:\n" + res.stdout[-4000:])
    for f in resources():
        dst = os.path.join(tmp, os.path.relpath(f, RESOURCES))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(f, dst)
    open(os.path.join(tmp, ".ok"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out, digest


if __name__ == "__main__":
    try:
        print(ensure_classes()[0])
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(2)
