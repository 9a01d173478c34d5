#!/usr/bin/env python3
"""Pair protocol: does a change beat its parent on one workload?

    python3 perfbench/pairs.py --workload store-churn --parent-rev HEAD~1 --change-rev HEAD

Checks out the two revisions as git worktrees in a fresh temp dir, copies
this directory's benchmark and BENCHMARK.json over each worktree's own (so
only the engine differs), and runs --pairs (at least 10) parent/change pairs,
alternating which side runs first. Pair i runs seed SEED_BASE + i on both
sides, each run BENCHMARK.json's run_seconds long. The worktrees are
removed at the end.

For every end-to-end metric of the workload it prints each side's median
and quartiles, the share of pairs the change wins (ties count for
neither), and a verdict:
  gain        the change wins >= 9 of 10 pairs and the medians differ by
              more than the parent's interquartile range;
  regression  the change's median is worse than the parent's by more than
              the metric's bound;
  unresolved  the parent's own spread (IQR / median) exceeds the bound,
              unless every change run reads better than every parent
              run ("better");
  same        none of the above.
A metric without a bound (its cross-seed spread is too wide for one) gets
only "gain" or "-".
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SEED_BASE = 1000


def run_side(tree, workload, seed, seconds):
    out = os.path.join(tree, ".perfbench-pair.json")
    p = subprocess.run([sys.executable, os.path.join(tree, "perfbench", "run.py"),
                        "--workload", workload, "--seed", str(seed),
                        "--seconds", str(seconds), "--out", out],
                       capture_output=True, text=True)
    if p.returncode != 0:
        raise SystemExit(f"run failed in {tree}:\n{p.stderr[-3000:]}")
    with open(out) as f:
        res = json.load(f)
    os.unlink(out)
    return {k: v["value"] for k, v in res["end_to_end"].items()}


def verdict(spec, pv, cv, wins):
    p1, p2, p3 = statistics.quantiles(pv, n=4)
    c2 = statistics.median(cv)
    iqr = p3 - p1
    gap = c2 - p2 if spec["better"] == "higher" else p2 - c2
    if wins / len(pv) >= 0.9 and gap > iqr:
        return "gain"
    if spec["bound"] is None:
        return "-"
    if (-gap / abs(p2) if p2 else -gap) > spec["bound"]:
        return "regression"
    if p2 and iqr / abs(p2) > spec["bound"]:
        better = min(cv) > max(pv) if spec["better"] == "higher" else max(cv) < min(pv)
        return "better" if better else "unresolved"
    return "same"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--parent-rev", required=True)
    ap.add_argument("--change-rev", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    args = ap.parse_args()
    if args.pairs < 10:
        raise SystemExit("the protocol needs at least 10 pairs")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    with open(os.path.join(HERE, "metrics.json")) as f:
        extra = json.load(f)
    metrics = {m["name"]: m for m in bench["end_to_end"]}
    metrics.update({k: v for k, v in extra["end_to_end"].items()
                    if args.workload in v["workloads"]})
    seconds = bench["run_seconds"]

    base = tempfile.mkdtemp(prefix="perfbench-pairs-")
    trees = {}
    try:
        for side, rev in (("parent", args.parent_rev), ("change", args.change_rev)):
            tree = trees[side] = os.path.join(base, side)
            subprocess.run(["git", "-C", ROOT, "worktree", "add", "--detach", tree, rev],
                           check=True, capture_output=True)
            shutil.copytree(HERE, os.path.join(tree, "perfbench"), dirs_exist_ok=True,
                            ignore=shutil.ignore_patterns("target", "__pycache__"))
            shutil.copyfile(os.path.join(ROOT, "BENCHMARK.json"),
                            os.path.join(tree, "BENCHMARK.json"))
        vals = {side: {m: [] for m in metrics} for side in trees}
        wins = {m: 0 for m in metrics}
        for i in range(args.pairs):
            seed = SEED_BASE + i
            order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
            got = {side: run_side(trees[side], args.workload, seed, seconds) for side in order}
            line = []
            for m, spec in metrics.items():
                a, b = got["parent"].get(m), got["change"].get(m)
                if a is None or b is None:
                    continue
                vals["parent"][m].append(a)
                vals["change"][m].append(b)
                wins[m] += (b < a) if spec["better"] == "lower" else (b > a)
                line.append(f"{m}={a:.4g}/{b:.4g}")
            print(f"pair {i + 1:2d} seed {seed} first={order[0]}: " + " ".join(line), flush=True)
        print(f"\n{args.workload}: {args.pairs} pairs, {seconds:g} s runs (parent / change)")
        for m, spec in metrics.items():
            pv, cv = vals["parent"][m], vals["change"][m]
            if len(pv) < 2:
                print(f"  {m:22s} no values")
                continue
            p1, p2, p3 = statistics.quantiles(pv, n=4)
            c1, c2, c3 = statistics.quantiles(cv, n=4)
            print(f"  {m:22s} {spec['unit']:8s} parent {p2:.4g} [{p1:.4g}, {p3:.4g}]  "
                  f"change {c2:.4g} [{c1:.4g}, {c3:.4g}]  win {wins[m] / len(pv):.0%}  "
                  f"{verdict(spec, pv, cv, wins[m])}")
    finally:
        for tree in trees.values():
            subprocess.run(["git", "-C", ROOT, "worktree", "remove", "--force", tree],
                           capture_output=True)
        shutil.rmtree(base, ignore_errors=True)


if __name__ == "__main__":
    main()
