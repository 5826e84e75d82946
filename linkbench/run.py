#!/usr/bin/env python3
"""Link-graph benchmark: one command for every workload.

    python3 linkbench/run.py --workload web-ingest --seed 1 --seconds 15 --trace 0

Builds the engine and the benchmark from source on first use (see
build.py), then runs one workload in a fresh JVM on local[nproc] and
prints the run's context line and, as the last line of stdout, the result:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones (see BENCHMARK.json and linkbench/README.md).

Everything the run writes (class files, inputs, Spark scratch space,
checkpoints) stays under linkbench/; the per-run scratch directory is
deleted at the end. Exits non-zero without printing a result when the
build or the run fails.
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ("web-ingest", "graph-analytics", "checkpointed-supersteps")
RUN_TIMEOUT_S = 170
HEAP = "2g"

# JDK 17 needs these for Spark when it is not started by spark-submit
# (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def git_commit():
    if not os.path.isdir(os.path.join(build.ROOT, ".git")):
        return "none"
    try:
        out = subprocess.run(["git", "-C", build.ROOT, "rev-parse", "HEAD"],
                             stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                             timeout=10)
        return out.stdout.decode().strip() or "none"
    except (OSError, subprocess.TimeoutExpired):
        return "none"


def java_command(classes, jars, work, main_class, args):
    """The JVM command line for `main_class`; its temp files go to `work`."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", "-Xss64m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           "-Dspark.ui.enabled=false"]
    for pkg in ADD_OPENS:
        cmd += ["--add-opens", f"{pkg}=ALL-UNNAMED"]
    return cmd + ["-cp", classes + os.pathsep + os.path.join(jars, "*"),
                  main_class, *args]


def jvm_env():
    # The engine's debug switches are environment variables; none reach
    # the measured JVM.
    return {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}


def parse_args():
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--tiny", action="store_true",
                   help="scale-8 inputs, for the benchmark's own test")
    a = p.parse_args()
    if a.seconds <= 0:
        p.error("--seconds must be positive")
    return a


def main():
    a = parse_args()
    try:
        classes, sources = build.ensure_built()
        jars = build.spark_jars()
    except build.BuildError as e:
        sys.exit(f"linkbench: build failed: {e}")

    work = os.path.join(HERE, ".work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    args = ["--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", work, "--cores", str(len(os.sched_getaffinity(0))),
            "--commit", git_commit(), "--sources", sources]
    if a.tiny:
        args.append("--tiny")
    cmd = java_command(classes, jars, work, "linkbench.Main", args)

    proc = subprocess.Popen(cmd, cwd=build.ROOT, env=jvm_env(),
                            stdout=subprocess.PIPE, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.exit(f"linkbench: run exceeded {RUN_TIMEOUT_S} s")
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    finally:
        shutil.rmtree(work, ignore_errors=True)

    lines = out.decode(errors="replace").splitlines()
    result_lines = [l for l in lines if l.startswith('{"correct"')]
    context_lines = [l for l in lines if l.startswith('{"context"')]
    if proc.returncode != 0 or len(result_lines) != 1:
        sys.stderr.write("\n".join(lines) + "\n")
        sys.exit(f"linkbench: run failed (exit code {proc.returncode})")
    result = json.loads(result_lines[0])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        sys.exit("linkbench: malformed result line")
    for line in context_lines:
        print(line)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
