#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the product sources (src/main/scala) together with the
benchmark's own sources (perfbench/src) into .bench_build/classes, using
the Scala compiler that ships in the Spark jar directory the sbt build
names (`unmanagedBase` in build.sbt; $SPARK_HOME/jars when unset). The
product's resources are copied alongside. A build whose inputs did not
change since the last one is skipped.

Usage: python3 perfbench/build.py   (from the repository root)
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

OUT = ".bench_build"


def jars_dir(root):
    """The Spark jar directory the repository compiles against."""
    build = os.path.join(root, "build.sbt")
    if os.path.isfile(build):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(build).read())
        if m:
            return m.group(1)
    home = os.environ.get("SPARK_HOME")
    if home:
        return os.path.join(home, "jars")
    raise RuntimeError("no Spark jar directory: build.sbt names none and SPARK_HOME is unset")


def sources(root):
    out = []
    for top in ("src/main/scala", "perfbench/src"):
        for d, _, fs in os.walk(os.path.join(root, top)):
            out += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    return sorted(out)


def resources(root):
    base = os.path.join(root, "src/main/resources")
    out = []
    for d, _, fs in os.walk(base):
        out += [os.path.join(d, f) for f in fs]
    return base, sorted(out)


def build(root):
    """Compiles if needed; returns (classes dir, jar dir)."""
    if not os.path.isdir(os.path.join(root, "src/main/scala")):
        raise RuntimeError("no product sources: run from the repository root")
    jars = jars_dir(root)
    srcs = sources(root)
    res_base, res = resources(root)
    h = hashlib.sha256(jars.encode())
    for f in srcs + res:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    classes = os.path.join(root, OUT, "classes")
    stamp_file = os.path.join(root, OUT, "classes.stamp")
    if os.path.isfile(stamp_file) and open(stamp_file).read() == stamp:
        return classes, jars
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", classes] + srcs
    r = subprocess.run(cmd, cwd=root, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        raise RuntimeError("compile failed")
    for f in res:
        dst = os.path.join(classes, os.path.relpath(f, res_base))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(f, dst)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return classes, jars


if __name__ == "__main__":
    try:
        print(build(os.getcwd())[0])
    except RuntimeError as e:
        sys.stderr.write(f"build: {e}\n")
        sys.exit(1)
