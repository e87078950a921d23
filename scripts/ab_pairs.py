#!/usr/bin/env python3
"""Interleaved A/B pairs of the pipeline benchmark between two checkouts.

Usage:

    python3 scripts/ab_pairs.py --parent ../parent --change . --workload corpus_rtbf --seeds 31-40

For each seed in the inclusive range, runs

    python3 <checkout>/perfbench/run.py --workload W --seed N --seconds 10 --trace 0

once in each checkout, alternating which side goes first (the parent on even
pair indices, the change on odd ones), so drift in host load falls on both
sides alike. Then, for every end-to-end metric that BENCHMARK.json (in the
change checkout) declares, prints per side the median [lower quartile, upper
quartile] and IQR/median; the pairs the change wins (better per the metric's
direction; ties count for neither side); and the median gap against the
parent's IQR. A gain is claimable when the change wins at least nine tenths
of the pairs and its median beats the parent's by more than the parent's
IQR. Runs that report `correct: false` or failed ops are listed. `--out FILE`
also writes every run's result as JSON.

Make the parent checkout with `git worktree add <dir> <parent-commit>` and
give it its own clean build (its first benchmark run builds it). Do not copy
a checkout that carries `target/` along: both copies then share build state,
and an incremental build in one copy has been seen to drop class files the
other copy's build still lists (`graft/sources/VecStore$.class`), which
fails that copy's runs.

The script only reads the two checkouts and starts their benchmark runners;
it writes nothing under `perfbench/`.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

SECONDS = 10


def run(checkout, workload, seed):
    """One benchmark run in `checkout`: its result object, or None when it crashed."""
    cmd = [sys.executable, os.path.join(checkout, "perfbench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(SECONDS), "--trace", "0"]
    t0 = time.time()
    proc = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                          text=True)
    lines = proc.stdout.strip().splitlines()
    res = None
    if proc.returncode == 0 and lines:
        try:
            res = json.loads(lines[-1])
        except json.JSONDecodeError:
            pass
    print(f"  {os.path.basename(os.path.abspath(checkout))} seed {seed}: "
          f"{'crashed' if res is None else 'ok'} in {time.time() - t0:.0f} s", file=sys.stderr)
    return res


def quartiles(xs):
    """(lower quartile, median, upper quartile), interpolating between samples."""
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--parent", required=True, help="checkout of the parent commit")
    ap.add_argument("--change", required=True, help="checkout of the change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="inclusive range A-B")
    ap.add_argument("--out", help="write every run's result here as JSON")
    args = ap.parse_args()
    lo, hi = (int(x) for x in args.seeds.split("-"))
    with open(os.path.join(args.change, "BENCHMARK.json")) as fh:
        metrics = json.load(fh)["end_to_end"]

    pairs = []
    for i, seed in enumerate(range(lo, hi + 1)):
        sides = [("parent", args.parent), ("change", args.change)]
        if i % 2:
            sides.reverse()
        pair = {"seed": seed, "first": sides[0][0]}
        for name, checkout in sides:
            pair[name] = run(checkout, args.workload, seed)
        pairs.append(pair)
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(pairs, fh, indent=1)

    bad = [f"{p['seed']} {side}" for p in pairs for side in ("parent", "change")
           if p[side] is None or not p[side].get("correct") or p[side].get("failed", 0)]
    print(f"{args.workload}: {len(pairs)} pairs, seeds {lo}-{hi}, --seconds {SECONDS}")
    print("incorrect, crashed or failed-op runs: " + (", ".join(bad) or "none"))
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        both = [(p["parent"]["metrics"][name]["value"], p["change"]["metrics"][name]["value"])
                for p in pairs if p["parent"] and p["change"]
                and name in p["parent"]["metrics"] and name in p["change"]["metrics"]]
        if not both:
            print(f"{name}: no pair reports it")
            continue
        par, chg = [b[0] for b in both], [b[1] for b in both]
        pq, cq = quartiles(par), quartiles(chg)
        p_iqr, c_iqr = pq[2] - pq[0], cq[2] - cq[0]
        wins = sum(1 for a, b in both if (b < a if lower else b > a))
        gain = (pq[1] - cq[1]) if lower else (cq[1] - pq[1])
        claim = wins >= 0.9 * len(both) and gain > p_iqr
        print(f"{name} ({m['unit']}, {m['better']} is better, bound {m['bound']})")
        for side, q, iqr in (("parent", pq, p_iqr), ("change", cq, c_iqr)):
            rel = iqr / q[1] if q[1] else float("nan")
            print(f"  {side:6} median {q[1]:.4g} [{q[0]:.4g}, {q[2]:.4g}]  IQR/median {rel:.3f}")
        delta = (cq[1] - pq[1]) / pq[1] if pq[1] else float("nan")
        print(f"  change wins {wins}/{len(both)}; median {delta:+.1%} of parent; gain {gain:.4g} "
              f"vs parent IQR {p_iqr:.4g}: {'claimable' if claim else 'not claimable'}")


if __name__ == "__main__":
    main()
