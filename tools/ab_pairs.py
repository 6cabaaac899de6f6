#!/usr/bin/env python3
"""Alternating A/B pairs of the repo benchmark on two checkouts.

Usage:
  python3 tools/ab_pairs.py --base DIR --head DIR [--pairs 10] [--seed 100]
                            [--workload W ...] [--seconds 20] [--out FILE]

DIR is a checkout of each side (a `git worktree` or a `git archive`
extract). Pair i runs `python3 perfbench/run.py --workload W --seed S+i
--seconds N --trace 0` once in each checkout; even pairs run the base
first, odd pairs the head, so neither side always meets a warmer host.
The workloads default to those listed in the base's BENCHMARK.json.

For every workload and end-to-end metric it prints each side's median and
quartiles, the pairs each side won (by the metric's `better` direction) and
whether the head's gain would pass a claim: at least 9 wins in 10 and a
median gap wider than the base's interquartile range. A run that fails or
prints `"correct": false` is counted and left out of its pair. The raw
metrics lines go to --out, which must lie outside both checkouts'
`perfbench/`; the tool writes nothing else (run.py keeps its own build and
scratch dirs inside each checkout).
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def load_bench(checkout):
    with open(os.path.join(checkout, "BENCHMARK.json")) as f:
        return json.load(f)


def run_once(checkout, workload, seed, seconds):
    """One benchmark run; returns its metrics line, or None if it failed."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(f"[ab] {checkout} {workload} seed {seed} failed "
                         f"(exit {p.returncode})\n{p.stderr[-2000:]}\n")
        return None
    line = json.loads(lines[-1])
    return line if line.get("correct") else None


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def summarize(pairs, metrics):
    """Rows of (metric, unit, base q1/med/q3, head q1/med/q3, wins, pairs, claim).

    A claim needs head wins in 9/10 of all pairs run (a failed run loses its
    pair), a median gap wider than the base's IQR and no more failed runs
    than the base."""
    fails = {s: sum(p[s] is None for p in pairs) for s in ("base", "head")}
    rows = []
    for m in metrics:
        name, higher = m["name"], m["better"] == "higher"
        both = [(p["base"]["metrics"][name]["value"], p["head"]["metrics"][name]["value"])
                for p in pairs if p["base"] and p["head"]]
        if not both:
            continue
        base, head = [b for b, _ in both], [h for _, h in both]
        head_wins = sum((h > b) if higher else (h < b) for b, h in both)
        base_wins = sum((b > h) if higher else (b < h) for b, h in both)
        bq, hq = quartiles(base), quartiles(head)
        gap = (hq[1] - bq[1]) if higher else (bq[1] - hq[1])
        claim = (head_wins >= 0.9 * len(pairs) and gap > bq[2] - bq[0]
                 and fails["head"] <= fails["base"])
        rows.append((name, m.get("unit", ""), bq, hq, base_wins, head_wins, len(both), claim))
    return rows


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--base", required=True, help="checkout of the parent")
    ap.add_argument("--head", required=True, help="checkout of the change")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=100, help="seed of the first pair")
    ap.add_argument("--workload", action="append", help="repeatable; default: listed")
    ap.add_argument("--seconds", type=int, default=None,
                    help="default: run_seconds of the base's BENCHMARK.json")
    ap.add_argument("--out", help="JSON file for the raw metrics lines")
    args = ap.parse_args(argv)

    base, head = os.path.abspath(args.base), os.path.abspath(args.head)
    if args.out:
        out = os.path.abspath(args.out)
        for side in (base, head):
            if out.startswith(os.path.join(side, "perfbench") + os.sep):
                ap.error("--out must lie outside perfbench/")
    bench = load_bench(base)
    workloads = args.workload or [w["name"] for w in bench["workloads"]]
    seconds = args.seconds or bench["run_seconds"]

    raw = {}
    for w in workloads:
        pairs = raw[w] = []
        for i in range(args.pairs):
            seed = args.seed + i
            order = [("base", base), ("head", head)]
            if i % 2:
                order.reverse()
            got = {side: run_once(d, w, seed, seconds) for side, d in order}
            pairs.append(dict(got, seed=seed))
            if args.out:
                with open(args.out, "w") as f:
                    json.dump(raw, f, indent=1)
            vals = {s: (r["metrics"]["ops_per_s"]["value"] if r else None)
                    for s, r in got.items()}
            print(f"[ab] {w} pair {i + 1}/{args.pairs} seed {seed} "
                  f"first={order[0][0]} ops_per_s base={vals['base']} head={vals['head']}",
                  file=sys.stderr, flush=True)
        fails = sum((p["base"] is None) + (p["head"] is None) for p in pairs)
        print(f"\n{w}: {args.pairs} pairs, seeds {args.seed}-{args.seed + args.pairs - 1}, "
              f"{fails} failed runs")
        print(f"  {'metric':<12} {'base q1 / median / q3':>26} {'head q1 / median / q3':>26}"
              f"  wins base/head  claim")
        for name, unit, bq, hq, bw, hw, n, claim in summarize(pairs, bench["end_to_end"]):
            fmt = lambda q: " / ".join(f"{v:.4g}" for v in q)
            print(f"  {name:<12} {fmt(bq):>26} {fmt(hq):>26}  {bw:>4}/{hw:<2} of {n:<3}"
                  f"  {'yes' if claim else 'no'}  ({unit})")
    return 0


if __name__ == "__main__":
    sys.exit(main())
