#!/usr/bin/env python3
"""Alternating parent/change benchmark pairs.

    python3 tools/perf_pairs.py BASE_REF CHANGE_REF --workload skew_routed \\
        --seed 11 --pairs 10 [--seconds 10] [--trace 0] [--work DIR]

Extracts `git archive` copies of both refs into DIR, then runs
`perfbench/run.py` once per side per pair, alternating which side runs first.
For every metric it prints each side's median and quartiles, the median gap,
and the fraction of pairs the change wins (better in the direction
BENCHMARK.json declares). A gain claim holds when the change wins at least
9 of 10 pairs and the median gap exceeds the base's interquartile range.
Use `git stash create` to get a ref for uncommitted (tracked or staged) work.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile


def checkout(ref, dest):
    os.makedirs(dest, exist_ok=True)
    archive = subprocess.Popen(["git", "archive", "--format=tar", ref], stdout=subprocess.PIPE)
    subprocess.run(["tar", "-x", "-C", dest], stdin=archive.stdout, check=True)
    if archive.wait() != 0:
        sys.exit(f"perf_pairs: git archive {ref} failed")


def run(copy, a):
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", a.workload, "--seed", str(a.seed),
         "--seconds", str(a.seconds), "--trace", a.trace],
        cwd=copy, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = out.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else {}
    if out.returncode != 0 or not result.get("correct") or result.get("failed"):
        sys.exit(f"perf_pairs: run in {copy} failed (exit {out.returncode}): {lines[-1:]}")
    return {k: v["value"] for k, v in result["metrics"].items()}


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("base")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", choices=("0", "1"), default="0")
    ap.add_argument("--work", default=None)
    a = ap.parse_args()
    work = a.work or tempfile.mkdtemp(prefix="perf_pairs-")
    sides = {"base": os.path.join(work, "base"), "change": os.path.join(work, "change")}
    checkout(a.base, sides["base"])
    checkout(a.change, sides["change"])
    with open(os.path.join(sides["base"], "BENCHMARK.json")) as f:
        bench = json.load(f)
    better = {m["name"]: m["better"] for m in bench["end_to_end"] + bench["per_layer"]}
    runs = {"base": [], "change": []}
    for i in range(a.pairs):
        order = ("base", "change") if i % 2 == 0 else ("change", "base")
        for side in order:
            runs[side].append(run(sides[side], a))
        b, c = runs["base"][-1], runs["change"][-1]
        walls = f": wall_s base {b['wall_s']:.3f} change {c['wall_s']:.3f}" if "wall_s" in b else ""
        print(f"pair {i + 1} of {a.pairs}{walls}", flush=True)
    print(f"{'metric':34} {'base median [q1, q3]':>30} {'change median [q1, q3]':>30} {'gap':>8} "
          f"{'wins':>6}  gain")
    for name in sorted(set(runs["base"][0]) & set(runs["change"][0])):
        bs = [r[name] for r in runs["base"]]
        cs = [r[name] for r in runs["change"]]
        if not any(bs + cs):
            continue
        bq, cq = quartiles(bs), quartiles(cs)
        sign = -1 if better.get(name, "lower") == "lower" else 1
        wins = sum(1 for b, c in zip(bs, cs) if sign * (c - b) > 0)
        gap = cq[1] - bq[1]
        rel = gap / bq[1] if bq[1] else 0.0
        holds = wins >= 0.9 * len(bs) and sign * gap > bq[2] - bq[0]
        print(f"{name:34} {bq[1]:>12.4g} [{bq[0]:.4g}, {bq[2]:.4g}] {cq[1]:>12.4g} [{cq[0]:.4g}, {cq[2]:.4g}]"
              f" {rel:>+8.1%} {wins:>3}/{len(bs):<2}  {'yes' if holds else 'no'}")


if __name__ == "__main__":
    main()
