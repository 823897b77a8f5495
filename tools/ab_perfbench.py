#!/usr/bin/env python
"""Interleaved A/B runs of perfbench between two checkouts.

    python tools/ab_perfbench.py PARENT CHANGE --workload etl_grids \
        --pairs 10 --first-seed 1001 [--seconds 9]

Pair ``i`` runs ``perfbench/run.py --workload W --seed FIRST_SEED+i
--trace 0`` once in each checkout, each in its own process, the parent
first in even pairs and the change first in odd ones, so a host that
drifts during the session drifts over both sides alike. Each run's
result line is printed as it lands. At the end the script prints, for
each end-to-end metric of ``BENCHMARK.json`` (read from CHANGE), each
side's median and quartiles, the pairs the change won, and whether a
gain may be claimed; then each side's median ``host_cpu_sentinel_s``.

A gain is claimed when the change wins at least nine tenths of the pairs
(ties count for neither side) and its median is better than the
parent's by more than the parent's interquartile range. A pair in which
either side's run failed to finish counts as a pair the change did not
win. Nothing under ``perfbench/`` is changed or imported: each run is a
plain subprocess in its own checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys


def quartiles(values: list[float]) -> tuple[float, float, float]:
    """(first quartile, median, third quartile), inclusive method."""
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, med, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return q1, med, q3


def summarize(pairs: list[tuple[dict | None, dict | None]], spec: list[dict]) -> list[dict]:
    """One row per metric of ``spec`` (``{"name", "better"}`` entries)
    over ``pairs`` of (parent, change) metric dicts, name → value; a
    side is None where its run failed. A row holds each side's
    quartiles over its finished runs, the change's strict wins, the
    pair count, and ``claim``: wins in at least nine tenths of all pairs
    and a median better by more than the parent's interquartile range."""
    rows = []
    for m in spec:
        name, lower = m["name"], m["better"] == "lower"
        parent = [p[name] for p, _ in pairs if p is not None]
        change = [c[name] for _, c in pairs if c is not None]
        wins = sum(
            1 for p, c in pairs
            if p is not None and c is not None
            and (c[name] < p[name] if lower else c[name] > p[name])
        )
        row = {"name": name, "better": m["better"], "pairs": len(pairs), "wins": wins,
               "parent": quartiles(parent) if parent else None,
               "change": quartiles(change) if change else None, "claim": False}
        if parent and change:
            (p1, pmed, p3), (_, cmed, _) = row["parent"], row["change"]
            gain = pmed - cmed if lower else cmed - pmed
            row["claim"] = wins * 10 >= 9 * len(pairs) and gain > p3 - p1
        rows.append(row)
    return rows


def run_side(checkout: str, workload: str, seed: int, seconds: float | None) -> dict | None:
    """One untraced perfbench run in ``checkout``: its result line with
    ``host_cpu_sentinel_s`` added, or None when the run failed."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--trace", "0"]
    if seconds is not None:
        cmd += ["--seconds", str(seconds)]
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        print(f"  {checkout} seed {seed}: exit {p.returncode}\n{p.stderr[-1500:]}", flush=True)
        return None
    line = json.loads(lines[-1])
    notes = next(json.loads(ln[2:]) for ln in lines if ln.startswith("# {"))
    line["host_cpu_sentinel_s"] = notes["host_cpu_sentinel_s"]
    return line


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=None)
    args = ap.parse_args(argv)
    with open(os.path.join(args.change, "BENCHMARK.json")) as f:
        spec = json.load(f)["end_to_end"]

    runs: list[tuple[dict | None, dict | None]] = []
    for i in range(args.pairs):
        seed = args.first_seed + i
        sides = {}
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for side in order:
            line = run_side(getattr(args, side), args.workload, seed, args.seconds)
            sides[side] = line
            print(f"pair {i} seed {seed} {side}: {json.dumps(line)}", flush=True)
        runs.append((sides["parent"], sides["change"]))

    def metrics(line):
        return None if line is None else {k: v["value"] for k, v in line["metrics"].items()}

    failed = [sum(1 for r in runs if r[k] is None or not r[k]["correct"]) for k in (0, 1)]
    print(f"\n{args.workload}: {args.pairs} pairs, seeds {args.first_seed}–"
          f"{args.first_seed + args.pairs - 1}; runs not correct or failed: "
          f"parent {failed[0]}, change {failed[1]}")
    print(f"{'metric':<24} {'parent median [q1, q3]':>34} {'change median [q1, q3]':>34} "
          f"{'diff':>8} {'wins':>6}  claim")
    for row in summarize([(metrics(p), metrics(c)) for p, c in runs], spec):
        if row["parent"] is None or row["change"] is None:
            print(f"{row['name']:<24} no finished runs on one side")
            continue
        (p1, pm, p3), (c1, cm, c3) = row["parent"], row["change"]
        diff = f"{(cm - pm) / pm:+.1%}" if pm else "n/a"
        print(f"{row['name']:<24} {f'{pm:.4g} [{p1:.4g}, {p3:.4g}]':>34} "
              f"{f'{cm:.4g} [{c1:.4g}, {c3:.4g}]':>34} {diff:>8} "
              f"{row['wins']:>3}/{row['pairs']:<2}  {'yes' if row['claim'] else 'no'}")
    for k, side in enumerate(("parent", "change")):
        sentinels = [r[k]["host_cpu_sentinel_s"] for r in runs if r[k] is not None]
        if sentinels:
            print(f"host_cpu_sentinel_s {side} median {statistics.median(sentinels):.4f} s")
    return 0


if __name__ == "__main__":
    sys.exit(main())
