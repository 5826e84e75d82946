#!/usr/bin/env python3
"""The link-graph benchmark's own test (a few minutes on 4 cores).

    python3 linkbench/selftest.py

1. Runs linkbench.SelfTest: the output checks pass on the engine's
   outputs and fail on copies with one WCC label changed, one rank off
   by 1e-5, one triangle credit dropped (and a few more).
2. Runs every workload end to end at scale 8 through run.py: untraced at
   seed 1, traced twice at seed 2. Each run must be correct with no failed
   check, print exactly the metrics of BENCHMARK.json with their units, and
   keep each layer's metrics on its own workload. The two seeds must give
   different inputs, and the two traced runs the same exact counts.
"""

import json
import math
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import run  # noqa: E402

SPEC = json.load(open(os.path.join(build.ROOT, "BENCHMARK.json")))
# Exact counts: the same for a fixed seed, run after run.
EXACT = (".iters", ".jobs", "checkpoint.commits", "triangles.count")
# Layers that only one workload exercises; elsewhere they read zero.
OWNED = {"ingest.": "web-ingest", "triangles.": "graph-analytics",
         "checkpoint.": "checkpointed-supersteps", "resume.": "checkpointed-supersteps"}

failures = []


def expect(ok, what):
    print(("ok   " if ok else "FAIL ") + what, flush=True)
    if not ok:
        failures.append(what)


def check_selftest_main():
    classes, _ = build.ensure_built()
    work = os.path.join(HERE, ".work", f"selftest-{os.getpid()}")
    try:
        cmd = run.java_command(classes, build.spark_jars(), work, "linkbench.SelfTest", [work])
        proc = subprocess.run(cmd, cwd=build.ROOT, env=run.jvm_env(),
                              stdout=subprocess.PIPE, timeout=run.RUN_TIMEOUT_S)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    sys.stdout.write(proc.stdout.decode(errors="replace"))
    expect(proc.returncode == 0, "linkbench.SelfTest: checks pass on engine output, fail when perturbed")


def bench(workload, seed, trace):
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", str(trace), "--tiny"],
        cwd=build.ROOT, stdout=subprocess.PIPE, timeout=2 * run.RUN_TIMEOUT_S)
    lines = proc.stdout.decode().splitlines()
    expect(proc.returncode == 0 and len(lines) == 2, f"{workload} seed {seed} trace {trace} runs")
    if proc.returncode != 0 or len(lines) != 2:
        return None, None
    return json.loads(lines[0])["context"], json.loads(lines[1])


def check_result(workload, trace, result):
    tag = f"{workload} trace {trace}"
    expect(result["correct"] and result["failed"] == 0 and result["attempted"] >= 1,
           f"{tag}: correct, no failed check")
    spec = SPEC["per_layer" if trace else "end_to_end"]
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    expect(got == {m["name"]: m["unit"] for m in spec}, f"{tag}: every metric of BENCHMARK.json, with its unit")
    values = {k: v["value"] for k, v in result["metrics"].items()}
    expect(all(isinstance(v, (int, float)) and math.isfinite(v) for v in values.values()),
           f"{tag}: every value a finite number")
    if not trace:
        expect(all(v > 0 for v in values.values()), f"{tag}: end-to-end metrics are non-zero")
        return
    for prefix, owner in OWNED.items():
        touched = any(v != 0 for k, v in values.items() if k.startswith(prefix))
        expect(touched == (workload == owner), f"{tag}: {prefix}* non-zero only on {owner}")


def main():
    check_selftest_main()
    for workload in run.WORKLOADS:
        ctx1, res1 = bench(workload, 1, 0)
        ctx2, res2 = bench(workload, 2, 1)
        ctx3, res3 = bench(workload, 2, 1)
        if None in (res1, res2, res3):
            continue
        check_result(workload, 0, res1)
        check_result(workload, 1, res2)
        expect(ctx1["input_digest"] != ctx2["input_digest"], f"{workload}: seeds 1 and 2 give different inputs")
        counts = lambda r: {k: v["value"] for k, v in r["metrics"].items() if k.endswith(EXACT)}
        expect(counts(res2) == counts(res3) and ctx2["checks_per_pass"] == ctx3["checks_per_pass"],
               f"{workload}: exact counts repeat for a fixed seed")
    if failures:
        sys.exit(f"{len(failures)} self-test failure(s): " + "; ".join(failures))
    print("linkbench self-test passed")


if __name__ == "__main__":
    main()
