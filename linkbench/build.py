#!/usr/bin/env python3
"""Build file of the link-graph benchmark.

Compiles the engine's sources (src/main/scala) together with the
benchmark's own (linkbench/src) into one class directory, using the
Scala compiler that ships with the Spark distribution, so no build tool
or network is needed. The output goes to linkbench/.build/classes-<digest>,
keyed by a digest of every source, and is reused while no source changes.

    python3 linkbench/build.py        # prints the class directory
"""

import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")
BUILD_DIR = os.path.join(HERE, ".build")
SCALAC_OPTS = ["-nowarn", "-encoding", "UTF-8"]


class BuildError(Exception):
    pass


def spark_jars():
    """The jars of the Spark at $SPARK_HOME, else of a spark-submit on PATH."""
    homes = [os.environ.get("SPARK_HOME", "")]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        submit = os.path.join(d, "spark-submit")
        if os.path.isfile(submit):
            homes.append(os.path.dirname(os.path.dirname(os.path.realpath(submit))))
    for home in homes:
        if home and os.path.isdir(os.path.join(home, "jars")):
            return os.path.join(home, "jars")
    raise BuildError("no Spark jars found; set SPARK_HOME")


def sources():
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        raise BuildError(f"engine sources not found under {ENGINE_SRC}")
    found = []
    for top in (ENGINE_SRC, BENCH_SRC):
        for d, _, files in os.walk(top):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def digest(files):
    h = hashlib.sha256(" ".join(SCALAC_OPTS).encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def ensure_built():
    """Returns (class directory, sources digest), compiling if needed."""
    files = sources()
    tag = digest(files)
    out = os.path.join(BUILD_DIR, f"classes-{tag}")
    if os.path.isdir(out):
        return out, tag
    os.makedirs(BUILD_DIR, exist_ok=True)
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD_DIR, f"sources{os.getpid()}.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cmd = ["java", "-Xss64m", "-Xmx2g", "-XX:-UsePerfData",
           "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-usejavacp", *SCALAC_OPTS,
           "-d", tmp, "@" + argfile]
    try:
        proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                              stderr=subprocess.STDOUT, timeout=600)
    except subprocess.TimeoutExpired:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("scalac timed out")
    finally:
        os.remove(argfile)
    if proc.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        sys.stderr.write(proc.stdout.decode(errors="replace"))
        raise BuildError(f"scalac failed with exit code {proc.returncode}")
    os.rename(tmp, out)
    for old in os.listdir(BUILD_DIR):
        if old.startswith("classes-") and old != os.path.basename(out):
            shutil.rmtree(os.path.join(BUILD_DIR, old), ignore_errors=True)
    return out, tag


if __name__ == "__main__":
    try:
        print(ensure_built()[0])
    except BuildError as e:
        sys.exit(f"build failed: {e}")
