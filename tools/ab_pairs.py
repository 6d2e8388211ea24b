#!/usr/bin/env python3
"""Alternating A/B pairs of the benchmark: a parent revision against a change.

    python3 tools/ab_pairs.py --base HEAD~1 [--head HEAD] --seeds 11-20 \
        [--workload attribution_daily ...] [--seconds 20] [--keep-log runs.jsonl]

Checks out both revisions into two fresh `git worktree`s (so each side
builds from its own committed sources, never from a copy of a built tree),
runs `perfbench/run.py --trace 0` from each once per seed, alternating which
side runs first, and removes the worktrees when done. Then prints, per
workload and end-to-end metric of BENCHMARK.json: each side's median and
quartiles, the change's wins, and whether a gain holds by the rule of
choosing-metrics section 8: the change wins at least 9 of every 10 pairs
(ties count for neither) and the medians differ by more than the parent's
interquartile range. Standard library only.
"""
import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import tempfile


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def bench(tree, workload, seed, seconds):
    """One untraced run; its metrics (name -> value) or None if it failed."""
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "0"],
        cwd=tree, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    try:
        rec = json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        print(f"[ab] {tree} {workload} s{seed}: no result (exit {p.returncode})\n{p.stderr[-2000:]}",
              file=sys.stderr)
        return None
    if not rec.get("correct") or rec.get("failed"):
        print(f"[ab] {tree} {workload} s{seed}: correct={rec.get('correct')} "
              f"failed={rec.get('failed')}", file=sys.stderr)
    return {k: v["value"] for k, v in rec["metrics"].items()}


def summary(values):
    q1, med, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return med, q1, q3


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--base", required=True, help="parent revision")
    ap.add_argument("--head", default="HEAD", help="change revision")
    ap.add_argument("--workload", action="append", help="default: every BENCHMARK.json workload")
    ap.add_argument("--seeds", default="11-20", help="e.g. 11-20 or 3,5,7")
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--keep-log", help="append each run's metrics to this JSONL file")
    a = ap.parse_args()
    repo = subprocess.check_output(["git", "rev-parse", "--show-toplevel"], text=True).strip()
    with open(os.path.join(repo, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    workloads = a.workload or [w["name"] for w in spec["workloads"]]
    better = {m["name"]: m["better"] for m in spec["end_to_end"]}

    tmp = tempfile.mkdtemp(prefix="ab_pairs_")
    trees = {}
    runs = {(w, side): [] for w in workloads for side in ("parent", "change")}
    try:
        for side, rev in (("parent", a.base), ("change", a.head)):
            trees[side] = os.path.join(tmp, side)
            subprocess.run(["git", "worktree", "add", "--detach", trees[side], rev],
                           cwd=repo, check=True, capture_output=True)
        for i, seed in enumerate(seeds(a.seeds)):
            order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
            for w in workloads:
                pair = {side: bench(trees[side], w, seed, a.seconds) for side in order}
                if None in pair.values():
                    continue  # a pair is counted only when both sides ran
                for side, m in pair.items():
                    runs[(w, side)].append(m)
                    if a.keep_log:
                        with open(a.keep_log, "a") as fh:
                            fh.write(json.dumps({"workload": w, "side": side, "seed": seed,
                                                 "first": order[0], "metrics": m}) + "\n")
                print(f"[ab] {w} s{seed} ({order[0]} first): " + "  ".join(
                    f"{k} {pair['parent'][k]:.3f}->{pair['change'][k]:.3f}"
                    for k in better if k in pair["parent"]), file=sys.stderr, flush=True)
    finally:
        for t in trees.values():
            subprocess.run(["git", "worktree", "remove", "--force", t], cwd=repo)
        subprocess.run(["git", "worktree", "prune"], cwd=repo)
        shutil.rmtree(tmp, ignore_errors=True)

    for w in workloads:
        par, chg = runs[(w, "parent")], runs[(w, "change")]
        n = len(par)
        print(f"{w}: {n} pairs")
        if n < 2:
            continue
        for k, way in better.items():
            p = [r[k] for r in par]
            c = [r[k] for r in chg]
            sign = 1 if way == "lower" else -1
            wins = sum(1 for x, y in zip(p, c) if sign * (x - y) > 0)
            (pm, pq1, pq3), (cm, cq1, cq3) = summary(p), summary(c)
            gain = sign * (pm - cm)
            holds = wins >= math.ceil(0.9 * n) and gain > pq3 - pq1
            print(f"  {k:12s} parent {pm:10.4f} [{pq1:.4f}, {pq3:.4f}]  change {cm:10.4f} "
                  f"[{cq1:.4f}, {cq3:.4f}]  delta {cm - pm:+.4f} ({(cm - pm) / pm:+.1%})  "
                  f"wins {wins}/{n}  gain rule {'holds' if holds else 'does not hold'}")


if __name__ == "__main__":
    main()
