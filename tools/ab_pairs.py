#!/usr/bin/env python3
"""Alternating A/B pairs of the repository benchmark between two git revisions.

Usage (from inside the repository):

    python3 tools/ab_pairs.py --base HEAD~1 --change HEAD \\
        --workload delivery_churn --pairs 10

Each side runs from its own fresh `git archive` copy in a new temporary
directory, removed afterwards, so neither side runs from the working
checkout. Each side first makes one unmeasured run, which compiles the
engine and records the class-data-sharing archive. Then pair i (from 1)
runs `perfbench/run.py --seconds 10 --trace 0` with seed i on both
sides, one run at a time, base first on odd pairs and change first on
even ones.

Printed: every run's four end-to-end metrics and its host steal time;
then per side the median and quartiles of each metric, the change's
median gain, the base's interquartile range, and in how many pairs the
change was better (the benchmark's claim rule: better in at least 9 of
10 pairs, and a median gain larger than the base's IQR).
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

# metric -> True when higher is better
METRICS = {"records_per_s": True, "latency_p50_ms": False,
           "latency_p99_ms": False, "setup_s": False}


def archive(rev, dest):
    """Extract `rev` of the repository this script sits in into `dest`."""
    root = subprocess.check_output(["git", "rev-parse", "--show-toplevel"],
                                   cwd=os.path.dirname(os.path.abspath(__file__)), text=True).strip()
    sha = subprocess.check_output(["git", "rev-parse", "--verify", rev + "^{commit}"],
                                  cwd=root, text=True).strip()
    os.makedirs(dest)
    tar = subprocess.Popen(["git", "archive", "--format=tar", sha], cwd=root, stdout=subprocess.PIPE)
    subprocess.check_call(["tar", "-x", "-C", dest], stdin=tar.stdout)
    if tar.wait() != 0:
        sys.exit(f"ab_pairs: git archive {rev} failed")
    return sha


def run(copy, workload, seed):
    """One benchmark run; returns (metrics, steal_s, correct, failed)."""
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", "10", "--trace", "0"],
                       cwd=copy, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.exit(f"ab_pairs: run failed in {copy} (seed {seed}):\n{p.stderr[-2000:]}")
    result = json.loads(lines[-1])
    info = next((l for l in lines if l.startswith("perfbench-info ")), "")
    steal = json.loads(info.split(" ", 3)[3]).get("host.steal_s", float("nan")) if info else float("nan")
    metrics = {k: result["metrics"][k]["value"] for k in METRICS}
    return metrics, steal, result["correct"], result["failed"]


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--base", required=True, help="git revision of the reference side")
    ap.add_argument("--change", required=True, help="git revision of the changed side")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    a = ap.parse_args()
    if a.pairs < 1:
        ap.error("--pairs must be at least 1")

    workdir = tempfile.mkdtemp(prefix="ab_pairs-")
    copies = {"base": os.path.join(workdir, "base"), "change": os.path.join(workdir, "change")}
    try:
        shas = {side: archive(getattr(a, side), path) for side, path in copies.items()}
        print(f"base {shas['base'][:12]}  change {shas['change'][:12]}  workload {a.workload}  "
              f"pairs {a.pairs}  seeds 1..{a.pairs}", flush=True)
        for path in copies.values():  # unmeasured: build + class-data-sharing archive
            run(path, a.workload, a.pairs + 101)
        rows = {"base": [], "change": []}
        print(f"{'seed':>4} {'side':6} " + " ".join(f"{m:>15}" for m in METRICS)
              + f" {'steal_s':>8} correct failed", flush=True)
        for seed in range(1, a.pairs + 1):
            for side in (("base", "change") if seed % 2 == 1 else ("change", "base")):
                m, steal, correct, failed = run(copies[side], a.workload, seed)
                rows[side].append(m)
                print(f"{seed:>4} {side:6} " + " ".join(f"{m[k]:>15.1f}" for k in METRICS)
                      + f" {steal:>8.2f} {correct!s:>7} {failed:>6}", flush=True)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)

    print()
    print(f"{'metric':16} {'base q1/med/q3':>28} {'change q1/med/q3':>28} {'gain':>8} "
          f"{'base IQR':>9} {'wins':>6}")
    for k, higher in METRICS.items():
        b = [r[k] for r in rows["base"]]
        c = [r[k] for r in rows["change"]]
        bq, cq = quartiles(b), quartiles(c)
        wins = sum((y > x) if higher else (y < x) for x, y in zip(b, c))
        gain = (cq[1] - bq[1]) if higher else (bq[1] - cq[1])
        print(f"{k:16} {bq[0]:>9.1f}/{bq[1]:>8.1f}/{bq[2]:>8.1f} {cq[0]:>9.1f}/{cq[1]:>8.1f}/{cq[2]:>8.1f} "
              f"{100 * gain / bq[1]:>+7.1f}% {bq[2] - bq[0]:>9.1f} {wins:>3}/{len(b)}")


if __name__ == "__main__":
    main()
