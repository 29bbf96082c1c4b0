#!/usr/bin/env python3
"""Plan identity of a refactor: diff named queries' physical plans between two revisions.

Usage (from inside the repository):

    python3 tools/plan_diff.py --base HEAD~1 [--change REV] [--cpus 8] \\
        [--sf DIR] QUERY...

The base side (and the change side, when `--change` is given) runs from
a fresh `git archive` copy in a new temporary directory, removed
afterwards; without `--change` the working tree is the change side.
Both sides run `graft.tools.PlanDump` at the same `SPARK_GRAFT_CPUS`
(a 16- vs 32-partition pair differs only in the partition count) and,
with `--sf`, the same `SPARK_GRAFT_SF_DIR`; without it PlanDump's
default data directory applies to both.

Before comparing, the run-to-run noise is stripped from each plan:
expression ids (`#12`, `#12L`), Aggregator object hashes
(`CentroidAggregator@54418834,`), `plan_id=N` counters, q215's
temporary store path (`graft-q215<digits>`), RDD ids
(`MapPartitionsRDD[110]`) and the source lines of RDD call sites
(`localCheckpoint at Graph.scala:228`), which move with any edit.

Printed: per query `IDENTICAL` or a unified diff of the stripped plans.
Identical plans whose every leaf reads cached, checkpointed or local
rows (`Scan ExistingRDD` / `LocalTableScan`), as lineage-cut spine
queries and checkpointed graph queries dump, print `IDENTICAL-LEAVES`
instead: the stages that built those rows never reach the dump, so the
diff compared only the operators above them (for a checkpointed graph
query, a sort; for the spine, the final unions and joins).
Exits non-zero if any query differs or either side failed to dump it.
"""
import argparse
import difflib
import os
import re
import shutil
import subprocess
import sys
import tempfile

from ab_pairs import archive

NOISE = [(re.compile(r"#[0-9]+L?"), ""), (re.compile(r"@[0-9a-f]+,"), ","),
         (re.compile(r"plan_id=[0-9]+"), ""), (re.compile(r"graft-q215[0-9]+"), ""),
         (re.compile(r"RDD\[[0-9]+\]"), "RDD[]"), (re.compile(r"\.scala:[0-9]+"), ".scala")]


LEAVES = {"Scan ExistingRDD", "LocalTableScan"}
# one line of the formatted operator tree: indent, `+- `/`:- ` edge, codegen `* `, name, node id
NODE = re.compile(r"^([\s:|]*)([+:]- )?(?:\* )?(.+?) \([0-9]+\)$")


def leaf_only(plan):
    """True if every leaf of the plan's operator tree reads cached, checkpointed or local rows."""
    nodes = [(len(m.group(1)) + len(m.group(2) or ""), m.group(3))
             for m in map(NODE.match, plan.split("\n\n", 1)[0].splitlines()) if m]
    leaves = {name for (depth, name), nxt in zip(nodes, nodes[1:] + [(-1, None)]) if nxt[0] <= depth}
    return bool(leaves) and leaves <= LEAVES


def strip(plan):
    for pattern, repl in NOISE:
        plan = pattern.sub(repl, plan)
    return plan


def dump(copy, out, tag, queries, cpus, sf):
    """Run PlanDump in `copy`, writing `<out>/<query>_<tag>.txt`."""
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus))
    if sf:
        env["SPARK_GRAFT_SF_DIR"] = sf
    p = subprocess.run(["sbt", "-batch", f"runMain graft.tools.PlanDump {out} {tag} {' '.join(queries)}"],
                       cwd=copy, env=env, capture_output=True, text=True)
    if p.returncode != 0:
        sys.exit(f"plan_diff: PlanDump failed in {copy}:\n{p.stdout[-2000:]}\n{p.stderr[-2000:]}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--base", required=True, help="git revision of the reference side")
    ap.add_argument("--change", help="git revision of the changed side (default: the working tree)")
    ap.add_argument("--cpus", type=int, default=8, help="SPARK_GRAFT_CPUS for both sides")
    ap.add_argument("--sf", help="SPARK_GRAFT_SF_DIR for both sides")
    ap.add_argument("queries", nargs="+", metavar="QUERY")
    a = ap.parse_args()

    root = subprocess.check_output(["git", "rev-parse", "--show-toplevel"],
                                   cwd=os.path.dirname(os.path.abspath(__file__)), text=True).strip()
    workdir = tempfile.mkdtemp(prefix="plan_diff-")
    out = os.path.join(workdir, "plans")
    try:
        base = os.path.join(workdir, "base")
        archive(a.base, base)
        change = root
        if a.change:
            change = os.path.join(workdir, "change")
            archive(a.change, change)
        dump(base, out, "base", a.queries, a.cpus, a.sf)
        dump(change, out, "change", a.queries, a.cpus, a.sf)
        differ = 0
        for q in a.queries:
            plans = {}
            for tag in ("base", "change"):
                path = os.path.join(out, f"{q}_{tag}.txt")
                plans[tag] = strip(open(path).read()).splitlines(keepends=True) \
                    if os.path.exists(path) else None
            if plans["base"] is None or plans["change"] is None:
                print(f"{q}: MISSING ({', '.join(t for t, p in plans.items() if p is None)} side failed to dump)")
                differ += 1
            elif plans["base"] == plans["change"]:
                if leaf_only("".join(plans["base"])):
                    print(f"{q}: IDENTICAL-LEAVES (every leaf reads cached, checkpointed or local rows; "
                          "the stages behind them are not compared)")
                else:
                    print(f"{q}: IDENTICAL")
            else:
                print(f"{q}: DIFFERS")
                sys.stdout.writelines(difflib.unified_diff(
                    plans["base"], plans["change"], f"{q} ({a.base})", f"{q} ({a.change or 'working tree'})"))
                differ += 1
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
    sys.exit(1 if differ else 0)


if __name__ == "__main__":
    main()
