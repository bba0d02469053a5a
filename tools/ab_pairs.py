#!/usr/bin/env python3
"""Alternating-order A/B pairs of the perfbench benchmark between two checkouts.

    python3 tools/ab_pairs.py --parent DIR --change DIR --workload mobility \
        --pairs 10 --seed0 1001 [--gates merge_staypoints,convoy_pairs] [--out ab.json]

Pair i runs `python3 perfbench/run.py --workload W --seed S --seconds 60
--trace 0` (S = seed0 + i) in each checkout, with the same seed on both
sides; even pairs run the parent first, odd pairs the change first. Each
checkout builds itself into its own `.bench_build/` on its first run, so
before pair 1 each checkout runs one pass whose result is discarded: no
timed run directly follows a build (two scalac passes, about 40 s of CPU).

Prints, per end-to-end metric: each side's median and quartiles, how many
pairs the change won, tied and lost (in the metric's better direction,
from the parent's BENCHMARK.json), the parent's interquartile range, and
whether a gain claim would hold: the change wins at least nine tenths of
the pairs (ties count for neither) and the medians differ, in the better
direction, by more than the parent's interquartile range. `--gates` adds
the same summary for the named gates' latencies. `--out` writes every
run's metrics as JSON. Exits 1 if any run failed to produce a result.
"""
import argparse
import json
import math
import os
import statistics
import subprocess
import sys


def run_once(checkout, workload, seed, seconds):
    """One untraced pass; returns (metrics, per-gate latencies) or None."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(f"ab_pairs: run failed in {checkout} (seed {seed}):\n{p.stderr[-2000:]}\n")
        return None
    res = json.loads(lines[-1])
    metrics = {k: m["value"] for k, m in res["metrics"].items()}
    gates = {}
    for line in lines:
        if line.strip().startswith("artifact:"):
            path = os.path.join(checkout, line.split("artifact:", 1)[1].strip())
            with open(path) as f:
                detail = json.load(f)["detail"]
            gates = {g: v["latency_s"] for g, v in detail["gates"].items()}
    metrics["correct"] = 1.0 if res["correct"] else 0.0
    return metrics, gates


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def summarize(name, pairs, lower_better):
    """pairs: list of (parent, change) values. Returns a printable line."""
    par = [p for p, _ in pairs]
    chg = [c for _, c in pairs]
    pq, cq = quartiles(par), quartiles(chg)
    better = [(c < p) if lower_better else (c > p) for p, c in pairs]
    ties = sum(1 for p, c in pairs if c == p)
    wins = sum(better)
    losses = len(pairs) - wins - ties
    iqr = pq[2] - pq[0]
    diff = cq[1] - pq[1]
    gained = (-diff if lower_better else diff) > iqr
    holds = wins >= math.ceil(0.9 * len(pairs)) and gained
    rel = diff / pq[1] if pq[1] else float("nan")
    return (f"{name:28s} parent {pq[1]:11.4f} [{pq[0]:.4f}, {pq[2]:.4f}]  "
            f"change {cq[1]:11.4f} [{cq[0]:.4f}, {cq[2]:.4f}]  {rel:+7.1%}  "
            f"won {wins}/{len(pairs)} tied {ties} lost {losses}  parent IQR {iqr:.4f}  "
            f"gain rule {'HOLDS' if holds else 'not met'}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--seed0", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=60)
    ap.add_argument("--gates", default="")
    ap.add_argument("--out")
    args = ap.parse_args()

    with open(os.path.join(args.parent, "BENCHMARK.json")) as f:
        lower = {m["name"]: m["better"] == "lower" for m in json.load(f)["end_to_end"]}

    # warm-up: build each checkout and discard one pass before any timed run
    for checkout in (args.parent, args.change):
        run_once(checkout, args.workload, args.seed0, args.seconds)

    runs, failed = [], 0
    for i in range(args.pairs):
        seed = args.seed0 + i
        order = [("parent", args.parent), ("change", args.change)]
        if i % 2:
            order.reverse()
        got = {}
        for side, checkout in order:
            got[side] = run_once(checkout, args.workload, seed, args.seconds)
        if got["parent"] is None or got["change"] is None:
            failed += 1
            continue
        runs.append({"seed": seed, "first": order[0][0],
                     "parent": {"metrics": got["parent"][0], "gates": got["parent"][1]},
                     "change": {"metrics": got["change"][0], "gates": got["change"][1]}})
        pm, cm = got["parent"][0], got["change"][0]
        print(f"pair {i + 1:2d} seed {seed} ({order[0][0]} first): " + "  ".join(
            f"{k} {pm[k]:.4f}->{cm[k]:.4f}" for k in lower if k in pm), flush=True)

    if args.out:
        with open(args.out, "w") as f:
            json.dump(runs, f, indent=1)
    if runs:
        print(f"\n{args.workload}: {len(runs)} pairs, seeds {args.seed0}..{args.seed0 + args.pairs - 1}")
        for k, lb in lower.items():
            vals = [(r["parent"]["metrics"][k], r["change"]["metrics"][k]) for r in runs
                    if k in r["parent"]["metrics"] and k in r["change"]["metrics"]]
            if vals:
                print(summarize(k, vals, lb))
        bad = sum(1 for r in runs for s in ("parent", "change") if r[s]["metrics"]["correct"] != 1.0)
        print(f"runs with an output mismatch: {bad}")
        for g in [g for g in args.gates.split(",") if g]:
            vals = [(r["parent"]["gates"][g], r["change"]["gates"][g]) for r in runs
                    if g in r["parent"]["gates"] and g in r["change"]["gates"]]
            if vals:
                print(summarize(g, vals, True))
    if failed:
        print(f"{failed} pair(s) dropped: a run produced no result", file=sys.stderr)
        sys.exit(1)


if __name__ == "__main__":
    main()
