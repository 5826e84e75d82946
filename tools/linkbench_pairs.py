#!/usr/bin/env python3
"""Parent-vs-change pairs of the link-graph benchmark.

    python3 tools/linkbench_pairs.py --workload checkpointed-supersteps \\
        --parent-dir /tmp/parent --parent-rev HEAD~1 --seeds 101-110

Runs `linkbench/run.py --trace 0` for BENCHMARK.json's `run_seconds`
once from a checkout of the parent commit and once from this working
tree for each seed, alternating which side runs first, and prints for
every end-to-end metric of BENCHMARK.json: each side's quartiles, how
many pairs the change won (ties count for neither side), whether the
median gap exceeds the parent's interquartile range, and whether the
change's median is worse than the parent's by more than the metric's
bound. A gain is claimable when the change wins at
least nine tenths of the pairs and the gap exceeds the parent's IQR.

With `--trace 1 --layer <name>[,<name>...]` the runs are traced instead,
and the report is each side's median of `<name>.{s,jobs,stages,tasks,task_s}`
for each named layer: the layer-by-layer evidence that an optimization
made its layer cheaper and left the others alone.

`--parent-dir` is any checkout of the parent (a `git worktree` works);
when it does not exist it is exported from `--parent-rev` with
`git archive`. Both sides are built before the first pair, so no timed
run pays for compilation.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def parse_seeds(text):
    seeds = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        seeds += range(int(lo), int(hi or lo) + 1)
    return seeds


def export_parent(rev, path):
    os.makedirs(path)
    archive = subprocess.Popen(["git", "-C", ROOT, "archive", rev], stdout=subprocess.PIPE)
    subprocess.run(["tar", "-x", "-C", path], stdin=archive.stdout, check=True)
    if archive.wait() != 0:
        sys.exit(f"git archive {rev} failed")


def build(side_dir):
    subprocess.run([sys.executable, os.path.join("linkbench", "build.py")],
                   cwd=side_dir, check=True, stdout=subprocess.DEVNULL)


LAYER_METRICS = ("s", "jobs", "stages", "tasks", "task_s")


def run_once(side_dir, workload, seed, seconds, trace):
    """The result line of one run, or None when the run failed."""
    cmd = [sys.executable, os.path.join("linkbench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    out = subprocess.run(cmd, cwd=side_dir, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL)
    lines = [l for l in out.stdout.decode(errors="replace").splitlines()
             if l.startswith('{"correct"')]
    if out.returncode != 0 or len(lines) != 1:
        return None
    return json.loads(lines[0])


def quartiles(xs):
    if len(xs) < 2:
        return (xs[0],) * 3
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def fmt(q):
    return "/".join(f"{x:.3f}" for x in q)


def summarize(metric, pairs):
    """One report row for `metric` over (parent, change) result pairs."""
    name, better, bound = metric["name"], metric["better"], metric["bound"]
    sign = 1.0 if better == "lower" else -1.0
    par = [p["metrics"][name]["value"] for p, _ in pairs]
    chg = [c["metrics"][name]["value"] for _, c in pairs]
    wins = sum(1 for a, b in zip(par, chg) if sign * (a - b) > 0)
    pq, cq = quartiles(par), quartiles(chg)
    gap = sign * (pq[1] - cq[1])  # > 0: the change's median is better
    iqr = pq[2] - pq[0]
    worse_by = -gap / pq[1] if pq[1] else 0.0
    return {
        "metric": name, "better": better, "pairs": len(pairs), "wins": wins,
        "parent": pq, "change": cq, "gap": gap, "parent_iqr": iqr,
        "gain_claimable": wins >= 0.9 * len(pairs) and gap > iqr,
        "within_bound": worse_by <= bound, "bound": bound,
    }


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", required=True, help="e.g. 101-110 or 3,5,7")
    p.add_argument("--parent-dir", required=True)
    p.add_argument("--parent-rev", default="HEAD")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--layer", help="with --trace 1: the layers to report, e.g. triangles,wcc")
    a = p.parse_args()
    if (a.trace == 1) != (a.layer is not None):
        p.error("--layer goes with --trace 1, and --trace 1 needs --layer")

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = bench["run_seconds"]
    if a.trace:
        metrics = [{"name": f"{layer}.{m}"}
                   for layer in a.layer.split(",") for m in LAYER_METRICS]
        known = {m["name"] for m in bench["per_layer"]}
        missing = [m["name"] for m in metrics if m["name"] not in known]
        if missing:
            sys.exit(f"not per-layer metrics of BENCHMARK.json: {', '.join(missing)}")
    else:
        metrics = bench["end_to_end"]

    if not os.path.isdir(a.parent_dir):
        export_parent(a.parent_rev, a.parent_dir)
    sides = {"parent": os.path.abspath(a.parent_dir), "change": ROOT}
    for d in sides.values():
        build(d)

    pairs, runs = [], []
    for i, seed in enumerate(parse_seeds(a.seeds)):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        got = {}
        for side in order:
            got[side] = run_once(sides[side], a.workload, seed, seconds, a.trace)
            runs.append({"seed": seed, "side": side, "result": got[side]})
        row = []
        for side in ("parent", "change"):
            r = got[side]
            row.append("FAILED" if r is None else " ".join(
                f"{m['name']}={r['metrics'][m['name']]['value']:.3f}" for m in metrics)
                + f" failed={r['failed']}/{r['attempted']}")
        print(f"seed {seed} ({order[0]} first): parent {row[0]} | change {row[1]}", flush=True)
        if got["parent"] is not None and got["change"] is not None:
            pairs.append((got["parent"], got["change"]))

    if not pairs:
        sys.exit("no pair completed")
    print(f"\n{a.workload}: {len(pairs)} complete pairs")
    if a.trace:
        print(f"{'metric':<20} {'parent median':>14} {'change median':>14}")
        for m in metrics:
            name = m["name"]
            med = [statistics.median(pair[i]["metrics"][name]["value"] for pair in pairs)
                   for i in (0, 1)]
            print(f"{name:<20} {med[0]:>14.3f} {med[1]:>14.3f}")
    else:
        print_claims(metrics, pairs)
    failed = {side: sum(r["result"] is None or r["result"]["failed"] > 0 for r in runs
                        if r["side"] == side) for side in sides}
    print(f"runs with a failure or a failed check: parent {failed['parent']}, "
          f"change {failed['change']}")


def print_claims(metrics, pairs):
    print(f"{'metric':<12} {'parent q1/med/q3':>26} {'change q1/med/q3':>26} "
          f"{'wins':>6} {'gap':>8} {'p.IQR':>8}  claim  bound")
    for m in metrics:
        s = summarize(m, pairs)
        print(f"{s['metric']:<12} {fmt(s['parent']):>26} {fmt(s['change']):>26} "
              f"{s['wins']:>3}/{s['pairs']:<2} {s['gap']:>8.3f} {s['parent_iqr']:>8.3f}  "
              f"{'yes' if s['gain_claimable'] else 'no':<5}  "
              f"{'ok' if s['within_bound'] else 'WORSE'} ({s['bound']:.0%})")


if __name__ == "__main__":
    main()
