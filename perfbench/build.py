#!/usr/bin/env python3
"""Build file of the benchmark: compiles graft (src/main) and the
benchmark's JVM program (perfbench/scala) into one class directory with the
Scala compiler that ships in Spark's jars, and copies src/main/resources
beside the classes.

Usage, from the repository root:  python3 perfbench/build.py

The output goes to $CARGO_TARGET_DIR (default .bench_build) under
classes/. A stamp over every source file skips the compile when nothing
changed, so only the first run in a checkout pays for it.
"""
import fcntl
import hashlib
import os
import re
import shutil
import subprocess
import sys

SOURCE_DIRS = ["src/main/scala", "perfbench/scala"]
RESOURCE_DIR = "src/main/resources"
COMPILER_OPTS = ["-nowarn", "-encoding", "UTF-8"]


class BuildError(Exception):
    pass


def build_dir(root):
    return os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def spark_jars(root):
    """$SPARK_HOME/jars, else the jar directory build.sbt names."""
    if os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        try:
            with open(os.path.join(root, "build.sbt")) as fh:
                m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
        except OSError:
            m = None
        jars = m.group(1) if m else ""
    if not os.path.isdir(jars):
        raise BuildError(f"Spark jars not found at {jars!r}; set SPARK_HOME")
    return jars


def _files(root, rel):
    out = []
    for base, dirs, names in os.walk(os.path.join(root, rel)):
        dirs.sort()
        out += [os.path.join(base, n) for n in sorted(names)]
    return out


def sources(root):
    if not os.path.isdir(os.path.join(root, SOURCE_DIRS[0])):
        raise BuildError(f"no graft sources under {SOURCE_DIRS[0]}")
    return [f for d in SOURCE_DIRS for f in _files(root, d) if f.endswith(".scala")]


def stamp(root, files):
    h = hashlib.sha256(" ".join(COMPILER_OPTS).encode())
    for f in files + _files(root, RESOURCE_DIR):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(root):
    """Returns (classes dir, source stamp), compiling when stale."""
    files = sources(root)
    jars = spark_jars(root)
    out = build_dir(root)
    os.makedirs(out, exist_ok=True)
    classes = os.path.join(out, "classes")
    want = stamp(root, files)
    with open(os.path.join(out, ".lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp_file = os.path.join(out, "classes.stamp")
        if os.path.isdir(classes) and os.path.exists(stamp_file):
            with open(stamp_file) as fh:
                if fh.read() == want:
                    return classes, want
        tmp = classes + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        argfile = os.path.join(out, "sources.txt")
        with open(argfile, "w") as fh:
            fh.write("\n".join(files) + "\n")
        # -classpath keeps scalac off its default ".", where the
        # checkout's directories would read as packages
        cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
               "scala.tools.nsc.Main", "-usejavacp", "-classpath", tmp, *COMPILER_OPTS,
               "-d", tmp, "@" + argfile]
        proc = subprocess.run(cmd, cwd=root, stdout=subprocess.PIPE,
                              stderr=subprocess.STDOUT, text=True)
        if proc.returncode != 0:
            raise BuildError("compile failed:\n" + proc.stdout[-4000:])
        res = os.path.join(root, RESOURCE_DIR)
        if os.path.isdir(res):
            shutil.copytree(res, tmp, dirs_exist_ok=True)
        shutil.rmtree(classes, ignore_errors=True)
        os.rename(tmp, classes)
        with open(stamp_file, "w") as fh:
            fh.write(want)
        return classes, want


def main():
    root = os.getcwd()
    try:
        classes, _ = build(root)
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 2
    print(classes)
    return 0


if __name__ == "__main__":
    sys.exit(main())
