#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (src/main/scala) and the
benchmark harness (perfbench/scala) with the Scala compiler that ships in
Spark's jar directory, into .bench_build/ at the repository root.

A build is keyed by a hash of every source and resource file, so an
unchanged tree is compiled once. Usage:

    python3 perfbench/build.py          # prints the class directory
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCALA = "2.13.17"
BUILD_DIR = os.path.join(ROOT, ".bench_build")


class BuildError(Exception):
    pass


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the one build.sbt names."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if not m:
        raise BuildError("no Spark jar directory: set SPARK_HOME")
    return m.group(1)


def _files(pattern):
    return sorted(glob.glob(os.path.join(ROOT, pattern), recursive=True))


def sources():
    engine = _files("src/main/scala/**/*.scala")
    if not engine:
        raise BuildError("no engine sources under src/main/scala")
    harness = _files("perfbench/scala/**/*.scala")
    if not harness:
        raise BuildError("no harness sources under perfbench/scala")
    return engine + harness


def resources():
    base = os.path.join(ROOT, "src/main/resources")
    return [p for p in _files("src/main/resources/**/*") if os.path.isfile(p)], base


def compiler_classpath():
    jars = [os.path.join(spark_jars(), f"scala-{j}-{SCALA}.jar")
            for j in ("compiler", "library", "reflect")]
    missing = [j for j in jars if not os.path.isfile(j)]
    if missing:
        raise BuildError(f"Scala compiler jars not found: {missing}")
    return os.pathsep.join(jars)


def stamp(srcs, res):
    h = hashlib.sha256(SCALA.encode())
    for p in srcs + res:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def build(log=sys.stderr):
    """Compile if needed; return the class directory."""
    srcs = sources()
    res, res_base = resources()
    key = stamp(srcs, res)
    out = os.path.join(BUILD_DIR, f"classes-{key}")
    if os.path.isfile(os.path.join(out, ".complete")):
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    argfile = os.path.join(BUILD_DIR, f"sources-{key}.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", compiler_classpath(),
           "scala.tools.nsc.Main", "-nowarn",
           "-classpath", os.path.join(spark_jars(), "*"),
           "-d", out, "@" + argfile]
    print(f"[build] compiling {len(srcs)} sources into {os.path.relpath(out, ROOT)}",
          file=log, flush=True)
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    os.remove(argfile)
    if r.returncode != 0:
        shutil.rmtree(out, ignore_errors=True)
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    for p in res:
        dst = os.path.join(out, os.path.relpath(p, res_base))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(p, dst)
    open(os.path.join(out, ".complete"), "w").close()
    # keep only this build
    for old in glob.glob(os.path.join(BUILD_DIR, "classes-*")):
        if old != out:
            shutil.rmtree(old, ignore_errors=True)
    return out


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"[build] {e}", file=sys.stderr)
        sys.exit(2)
