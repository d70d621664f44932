#!/usr/bin/env python3
"""A/B pairs of perfbench runs in two checkouts, with the claim rule.

Usage:

    python3 scripts/ab_pairs.py --parent <checkout> --change <checkout> \\
        --workload ingest_loop --pairs 10 [--seed-base 401] [--seconds 8] \\
        [--metric docs_per_s]

Runs `python3 perfbench/run.py --workload W --seed S --seconds T` in each
checkout, alternating which side runs first (pair 0 parent first, pair 1
change first, ...); both sides of pair i use seed `seed-base + i`, so pick
seeds not used while writing the change. Each checkout builds from its own
sources into its own `.bench_build/`. Prints every pair's end-to-end
metrics, then each side's median and quartiles per metric, the change's win
count on `--metric` (ties count for neither side) and whether the claim rule
holds: the change wins at least nine tenths of the pairs and the medians
differ, in the better direction, by more than the parent's interquartile
range. A run that fails or reports wrong output counts as a loss; its
report line's `failures` and the last lines of its stderr are printed
under the pair. The last
stdout line is a JSON summary. Reads the metric directions from the change
checkout's BENCHMARK.json; writes nothing in either checkout besides what
perfbench/run.py itself writes.
"""
import argparse
import json
import math
import os
import statistics
import subprocess
import sys

STDERR_TAIL = 20  # stderr lines printed for a failed run


def run(checkout, workload, seed, seconds):
    """One perfbench run: (its metrics, None), or (None, why it failed) when
    it exited non-zero, printed no result or reported wrong output."""
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds)],
        cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = proc.stdout.strip().splitlines()
    tail = "\n".join(proc.stderr.strip().splitlines()[-STDERR_TAIL:])
    try:
        result = json.loads(lines[-1]) if lines else None
    except ValueError:
        result = None
    if proc.returncode != 0 or result is None:
        return None, f"exit {proc.returncode}, no result line; stderr tail:\n{tail}"
    if result.get("correct") is not True:
        return None, (f"failed {result.get('failed')} of {result.get('attempted')}: "
                      f"{result.get('failures')}; stderr tail:\n{tail}")
    return {k: v["value"] for k, v in result["metrics"].items()}, None

def quartiles(xs):
    """(q1, median, q3) of at least one value."""
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed-base", type=int, default=401)
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--metric", default="docs_per_s")
    a = ap.parse_args()
    with open(os.path.join(a.change, "BENCHMARK.json")) as fh:
        better = {m["name"]: m["better"] for m in json.load(fh)["end_to_end"]}
    if a.metric not in better:
        print(f"unknown metric {a.metric!r}; one of {', '.join(better)}", file=sys.stderr)
        return 2
    sides = {"parent": a.parent, "change": a.change}
    runs = {"parent": [], "change": []}
    for i in range(a.pairs):
        seed = a.seed_base + i
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        got, why = {}, {}
        for side in order:
            got[side], why[side] = run(sides[side], a.workload, seed, a.seconds)
        for side in sides:
            runs[side].append(got[side])
        cells = []
        for side in sides:
            m = got[side]
            cells.append(f"{side} " + ("FAILED" if m is None else
                         " ".join(f"{k}={m[k]:.4g}" for k in better if k in m)))
        print(f"pair {i} seed {seed} ({order[0]} first): " + " | ".join(cells), flush=True)
        for side in sides:
            if why[side]:
                print(f"  {side} seed {seed} FAILED: {why[side]}", flush=True)

    summary = {"workload": a.workload, "pairs": a.pairs, "metric": a.metric, "sides": {}}
    for side in sides:
        ok = [m for m in runs[side] if m is not None]
        summary["sides"][side] = {"failed": len(runs[side]) - len(ok)}
        for k in better:
            xs = [m[k] for m in ok if k in m]
            if xs:
                q1, med, q3 = quartiles(xs)
                summary["sides"][side][k] = {"q1": q1, "median": med, "q3": q3}
                print(f"{side:6s} {k:12s} median {med:.4g} (q1 {q1:.4g}, q3 {q3:.4g})")

    sign = 1 if better[a.metric] == "higher" else -1
    wins = 0
    for p, c in zip(runs["parent"], runs["change"]):
        if c is not None and (p is None or sign * (c[a.metric] - p[a.metric]) > 0):
            wins += 1
    par = summary["sides"]["parent"].get(a.metric)
    chg = summary["sides"]["change"].get(a.metric)
    gap = sign * (chg["median"] - par["median"]) if par and chg else float("-inf")
    iqr = par["q3"] - par["q1"] if par else float("inf")
    holds = wins >= math.ceil(0.9 * a.pairs) and gap > iqr
    summary.update(wins=wins, median_gap=gap, parent_iqr=iqr, rule_holds=holds)
    print(f"{a.metric}: change wins {wins} of {a.pairs}; median gap {gap:.4g} vs parent "
          f"IQR {iqr:.4g}; rule {'holds' if holds else 'does not hold'}")
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main())
