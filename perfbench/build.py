#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the program's sources (`src/main/scala`, resources from
`src/main/resources`) together with the benchmark's own sources
(`perfbench/scala`) into one class directory, with the Scala compiler
that ships in the Spark distribution's `jars/` directory. The class
directory is rebuilt only when a source file changes.

Usage: python3 perfbench/build.py   (prints the class directory)
"""
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        raise SystemExit("build: no Spark distribution found (set SPARK_HOME)")
    return jars


def sources():
    roots = [os.path.join(ROOT, "src", "main", "scala"),
             os.path.join(ROOT, "perfbench", "scala")]
    for r in roots:
        if not os.path.isdir(r):
            raise SystemExit(f"build: missing source directory {os.path.relpath(r, ROOT)}")
    out = []
    for r in roots:
        for dirpath, _, files in os.walk(r):
            out += [os.path.join(dirpath, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def resources():
    r = os.path.join(ROOT, "src", "main", "resources")
    out = []
    for dirpath, _, files in os.walk(r):
        out += [os.path.join(dirpath, f) for f in files]
    return sorted(out)


def build():
    jars = spark_jars()
    srcs, res = sources(), resources()
    h = hashlib.sha256()
    for p in srcs + res:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    bdir = os.path.join(ROOT, ".bench_build")
    classes = os.path.join(bdir, "classes")
    stamp_file = os.path.join(bdir, "stamp")
    if os.path.isdir(classes) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                return classes, jars
    fresh = os.path.join(bdir, "classes.new")
    shutil.rmtree(fresh, ignore_errors=True)
    os.makedirs(fresh)
    argfile = os.path.join(bdir, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-XX:-UsePerfData", "-Xmx2g", "-Xss8m", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", fresh, "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit(f"build: scalac failed with code {r.returncode}")
    rroot = os.path.join(ROOT, "src", "main", "resources")
    for p in res:
        dst = os.path.join(fresh, os.path.relpath(p, rroot))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(p, dst)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(fresh, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp + "\n")
    return classes, jars


if __name__ == "__main__":
    print(build()[0])
