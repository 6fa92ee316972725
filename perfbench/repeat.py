#!/usr/bin/env python3
"""Repeated runs of one workload, each in its own process.

    python3 perfbench/repeat.py spread --workload tail_mor_json --seeds 1 2 3 4 5
    python3 perfbench/repeat.py overhead --workload backfill --seed 7 --pairs 2

``spread`` runs once per seed and prints, for every end-to-end metric, the
median and the quartile distance as a share of the median
(``statistics.quantiles(values, n=4)``) next to the metric's bound.

``overhead`` runs the workload untraced and traced, alternating which goes
first, and prints each side's median and traced minus untraced.  Each run
is its own JVM, so run-to-run spread is part of every difference; a
difference inside that spread is not overhead.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench.stats import iqr_share  # noqa: E402


def run_once(workload: str, seed: int, trace: int, seconds: float) -> tuple[dict, float]:
    """(the run's result.json, its wall seconds)."""
    t0 = time.monotonic()
    subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        check=True, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
    )
    wall = time.monotonic() - t0
    path = os.path.join(ROOT, ".perfbench_work", f"{workload}-s{seed}-t{trace}", "result.json")
    with open(path) as f:
        return json.load(f), wall


def spread(args) -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bounds = {m["name"]: m["bound"] for m in json.load(f)["end_to_end"]}
    results, walls = [], []
    for seed in args.seeds:
        r, wall = run_once(args.workload, seed, 0, args.seconds)
        walls.append(wall)
        results.append(r["end_to_end"])
        if not r["printed_only"]["correct"]:
            print(f"seed {seed}: correct = 0 ({r['check']})")
    print(f"{args.workload}: {len(results)} runs, seeds {args.seeds}")
    print(f"run wall: median {statistics.median(walls):.1f} s, max {max(walls):.1f} s")
    print(f"{'metric':22s} {'median':>12s} {'spread':>8s} {'bound':>6s}")
    for name, bound in bounds.items():
        values = [r[name] for r in results]
        share = iqr_share(values) if len(values) >= 2 else float("nan")
        flag = "" if share <= bound / 3 else ("  > bound/3" if share <= bound else "  > BOUND")
        print(f"{name:22s} {statistics.median(values):12.4f} {share:8.3f} {bound:6.2f}{flag}")


def overhead(args) -> None:
    runs: dict[int, list[dict]] = {0: [], 1: []}
    for i in range(args.pairs):
        for trace in ((0, 1) if i % 2 == 0 else (1, 0)):
            runs[trace].append(run_once(args.workload, args.seed, trace, args.seconds)[0])
    print(f"{args.workload}: {args.pairs} pairs, seed {args.seed}")
    print(f"{'metric':22s} {'untraced':>12s} {'traced':>12s} {'traced-untraced':>16s}")
    for name in runs[0][0]["end_to_end"]:
        a = statistics.median(r["end_to_end"][name] for r in runs[0])
        b = statistics.median(r["end_to_end"][name] for r in runs[1])
        share = f" ({(b - a) / a:+.1%})" if a else ""
        print(f"{name:22s} {a:12.4f} {b:12.4f} {b - a:+16.4f}{share}")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    sub = ap.add_subparsers(dest="mode", required=True)
    sp = sub.add_parser("spread")
    sp.add_argument("--seeds", type=int, nargs="+", required=True)
    ov = sub.add_parser("overhead")
    ov.add_argument("--seed", type=int, default=1)
    ov.add_argument("--pairs", type=int, default=2)
    for p in (sp, ov):
        p.add_argument("--workload", required=True)
        p.add_argument("--seconds", type=float, default=10)
    args = ap.parse_args()
    if args.mode == "spread":
        spread(args)
    else:
        overhead(args)


if __name__ == "__main__":
    main()
