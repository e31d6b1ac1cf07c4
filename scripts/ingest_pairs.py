#!/usr/bin/env python3
"""Alternating parent/change pairs of the ingest benchmark, summarised.

    python3 scripts/ingest_pairs.py <parent-checkout> <change-checkout> \\
        --workload catchup_100k --seeds 401 402 403 404 405 406 407 408 409 410

Each seed is one pair: `python3 ingestbench/run.py` once in each checkout
for BENCHMARK.json's `run_seconds`, the side that runs first alternating
from pair to pair, at the same core count. For each metric of the runs' result JSON (the end-to-end metrics
at `--trace 0`, the per-layer ones at `--trace 1`) it prints each side's
median, first and third quartile, and how many pairs the change won, with
the direction taken from the change's BENCHMARK.json; ties count for
neither side. For `--claim` (default `ingest_msgs_per_s`) it then prints
whether a gain may be claimed: at least ten pairs, the change winning at
least nine tenths of them, and the medians further apart than the
parent's interquartile range. A run whose result reads "correct": false
is no result: the script stops without summarising. It only runs
ingestbench/run.py and never writes under ingestbench/ itself.

Make the parent checkout fresh, with `git worktree add <dir> <commit>` or
`git clone`, never by copying a built checkout: sbt's incremental-compile
analysis in target/ holds absolute paths, so building the copy can delete
the original's classes (every later run of the original then fails with
NoClassDefFoundError). Each checkout builds on its first run; do not
build anything else while pairs run.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path


def run(checkout, workload, seed, seconds, trace):
    cmd = [sys.executable, "ingestbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", trace]
    proc = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.exit(f"{checkout}: seed {seed} failed (exit {proc.returncode})")
    result = json.loads(lines[-1])
    if not result.get("correct"):
        sys.exit(f"{checkout}: seed {seed} read correct: false "
                 f"({result.get('failed')} messages failed); not summarising")
    return {k: m["value"] for k, m in result["metrics"].items()}


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    return tuple(statistics.quantiles(xs, n=4, method="inclusive"))


def cell(q):
    q1, med, q3 = q
    return f"{med:.4g} [{q1:.4g}, {q3:.4g}]"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("parent", type=Path)
    ap.add_argument("change", type=Path)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, type=int, nargs="+")
    ap.add_argument("--trace", default="0", choices=("0", "1"))
    ap.add_argument("--claim", default="ingest_msgs_per_s")
    a = ap.parse_args()

    bench = json.loads((a.change / "BENCHMARK.json").read_text())
    lower = {m["name"]: m["better"] == "lower"
             for m in bench["end_to_end"] + bench.get("per_layer", [])}
    runs = {"parent": [], "change": []}
    for i, seed in enumerate(a.seeds):
        order = [("parent", a.parent), ("change", a.change)]
        for side, checkout in (order if i % 2 == 0 else order[::-1]):
            runs[side].append(run(checkout, a.workload, seed,
                                     bench["run_seconds"], a.trace))
        p, c = runs["parent"][-1], runs["change"][-1]
        shown = f"{a.claim} parent {p[a.claim]} change {c[a.claim]}" if a.claim in p else "done"
        print(f"seed {seed}: {shown}", flush=True)

    n = len(a.seeds)
    print(f"\n{a.workload}, {n} pairs (median [Q1, Q3])")
    print(f"{'metric':28} {'parent':>32} {'change':>32} {'change wins':>12}")
    verdict = None
    for name in runs["parent"][0]:
        if name not in lower:
            continue
        ps = [r[name] for r in runs["parent"]]
        cs = [r[name] for r in runs["change"]]
        sign = -1 if lower[name] else 1
        wins = sum(sign * (c - p) > 0 for p, c in zip(ps, cs))
        pq, cq = quartiles(ps), quartiles(cs)
        print(f"{name:28} {cell(pq):>32} {cell(cq):>32} {wins:>9}/{n}")
        if name == a.claim:
            gap, iqr = sign * (cq[1] - pq[1]), pq[2] - pq[0]
            holds = n >= 10 and wins >= 0.9 * n and gap > iqr
            verdict = (f"\n{a.claim}: change wins {wins}/{n}, median gap {gap:.4g} vs "
                       f"parent IQR {iqr:.4g}: gain {'holds' if holds else 'NOT shown'} "
                       f"(needs >= 10 pairs, >= 9/10 wins, gap > IQR)")
    print(verdict or f"\n{a.claim}: not among the runs' metrics")


if __name__ == "__main__":
    main()
