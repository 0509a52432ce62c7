#!/usr/bin/env python3
"""Builds the engine and the benchmark's JVM side from source.

Compiles the engine's main sources (`src/main/scala`, with
`src/main/resources` copied alongside) together with `perfbench/src` into
one class directory, using the Scala compiler that ships among the Spark
jars. The class directory is reused while a hash of every input file is
unchanged.

    python3 perfbench/build.py     # prints the class directory
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
STATE = os.path.join(ROOT, ".bench_build", "perfbench")


class BuildError(Exception):
    pass


def spark_jars():
    """The Spark jar directory: $SPARK_HOME/jars, else the main build's
    `unmanagedBase`."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    raise BuildError("no Spark jars: set SPARK_HOME")


def _files(top, suffix=None):
    out = []
    for d, _, fs in os.walk(top):
        out += [os.path.join(d, f) for f in fs if suffix is None or f.endswith(suffix)]
    return sorted(out)


def classpath(jars):
    return [os.path.join(jars, j) for j in sorted(os.listdir(jars)) if j.endswith(".jar")]


def build():
    """Returns (class dir, jar list); compiles only when an input changed."""
    main_src = os.path.join(ROOT, "src", "main", "scala")
    os.makedirs(STATE, exist_ok=True)
    if not os.path.isdir(main_src):
        raise BuildError(f"engine sources not found under {ROOT}")
    jars = spark_jars()
    cp = classpath(jars)
    srcs = _files(main_src, ".scala") + _files(os.path.join(BENCH, "src"), ".scala")
    res_dir = os.path.join(ROOT, "src", "main", "resources")
    resources = _files(res_dir) if os.path.isdir(res_dir) else []
    h = hashlib.sha256()
    for f in srcs + resources:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    h.update("\n".join(os.path.basename(j) for j in cp).encode())
    stamp = h.hexdigest()
    out = os.path.join(STATE, "classes")
    stamp_file = os.path.join(STATE, "classes.stamp")
    if os.path.isdir(out) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return out, cp

    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    compiler = [j for j in cp if re.search(
        r"/scala-(compiler|library|reflect)-2\.13[^/]*\.jar$", j)]
    if len(compiler) != 3:
        raise BuildError("scala-compiler/library/reflect 2.13 jars not found")
    args_file = os.path.join(STATE, "scalac.args")
    with open(args_file, "w") as fh:
        fh.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx3g", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", os.pathsep.join(cp),
           "-d", tmp, "@" + args_file]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    for f in resources:
        dst = os.path.join(tmp, os.path.relpath(f, res_dir))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(f, dst)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return out, cp


if __name__ == "__main__":
    os.makedirs(STATE, exist_ok=True)
    try:
        print(build()[0])
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(1)
