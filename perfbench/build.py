#!/usr/bin/env python3
"""Build file of the benchmark.

Compiles the engine (`src/main/scala`) together with the benchmark harness
(`perfbench/harness`) into `<build dir>/perfbench/classes`, using the Scala
compiler that ships with the Spark jars the engine builds against (the
directory `build.sbt` names as `unmanagedBase`). The build dir is
`$CARGO_TARGET_DIR` when set, else `.bench_build` at the repository root.
A stamp of every source's content makes repeat builds free.

Usage: python3 perfbench/build.py   (prints the classes directory)
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
HARNESS_SRC = os.path.join(HERE, "harness")


class BuildError(RuntimeError):
    pass


def build_dir():
    base = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return os.path.join(ROOT, base, "perfbench")


def spark_jars():
    """The Spark jars directory the engine compiles against: build.sbt's
    `unmanagedBase`, so the benchmark and sbt always use the same jars."""
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if not m:
        raise BuildError("no `unmanagedBase := file(...)` in build.sbt")
    return m.group(1)


def spark_classpath():
    return os.path.join(spark_jars(), "*")


def _sources():
    if not os.path.isfile(os.path.join(ENGINE_SRC, "graft", "SparkEntry.scala")):
        raise BuildError(f"engine sources not found under {ENGINE_SRC}")
    found = []
    for top in (ENGINE_SRC, HARNESS_SRC):
        for d, _, files in os.walk(top):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def build():
    """Compile if any source changed; return the classes directory."""
    sources = _sources()
    if not os.path.isdir(spark_jars()):
        raise BuildError(f"Spark jars not found at {spark_jars()}")
    h = hashlib.sha256()
    for p in sources:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    out = os.path.join(build_dir(), "classes")
    stamp_file = os.path.join(build_dir(), "classes.stamp")
    if os.path.isdir(out) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(build_dir(), "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(sources) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", spark_classpath(), "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-cp", spark_classpath(), "@" + argfile]
    res = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                         text=True)
    if res.returncode != 0:
        raise BuildError("scalac failed:\n" + res.stdout[-4000:])
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    with open(stamp_file, "w") as f:
        f.write(stamp + "\n")
    return out


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        sys.exit(f"[perfbench] build failed: {e}")
