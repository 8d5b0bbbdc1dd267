#!/usr/bin/env python3
"""Interleaved A/B of two checkouts on one perfbench workload.

    python3 tools/ab_pairs.py --parent DIR --change DIR --workload NAME \\
        --seeds 21-30 --n 10

Runs `perfbench/run.py --trace 0` N times in each checkout, one pair per
seed (the seed list repeats if shorter than N), alternating which side
runs first. Both sides run for the `run_seconds` of the change
checkout's BENCHMARK.json; the two checkouts must declare the same
value. Each run's last stdout line is its JSON result, echoed to stderr
as it arrives.

For every end-to-end metric of the change checkout's BENCHMARK.json it
prints each side's median and quartiles, the pairs the change wins (ties
count for neither) and two verdicts:
  - gain: the change wins at least 9 in 10 of the pairs, and its median
    is better than the parent's by more than the parent's interquartile
    range;
  - bound: the change's median is no worse than the parent's by more
    than the metric's bound; where the parent's runs spread wider than
    the bound, the metric is unresolved unless every change run beats
    every parent run.
A run that fails or prints no result is reported and left out.
"""
import argparse
import json
import math
import os
import statistics
import subprocess
import sys


def parse_seeds(text):
    """'21-30' or '21,22,25' -> list of ints."""
    seeds = []
    for part in text.split(","):
        if "-" in part:
            lo, hi = part.split("-")
            seeds.extend(range(int(lo), int(hi) + 1))
        else:
            seeds.append(int(part))
    return seeds


def schedule(seeds, n):
    """The n pairs as (seed, first side): seeds cycle, sides alternate."""
    return [(seeds[i % len(seeds)], "parent" if i % 2 == 0 else "change")
            for i in range(n)]


def last_json(stdout):
    """The last stdout line that parses as a JSON object, or None."""
    for line in reversed(stdout.splitlines()):
        line = line.strip()
        if line.startswith("{"):
            try:
                return json.loads(line)
            except ValueError:
                return None
    return None


def quartiles(xs):
    """(q1, median, q3) by the inclusive method."""
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def better(a, b, direction):
    """Is value a better than value b?"""
    return a < b if direction == "lower" else a > b


def summarize_metric(pairs, direction, bound):
    """Verdicts for one metric over (parent, change) value pairs."""
    ps = [p for p, _ in pairs]
    cs = [c for _, c in pairs]
    pq = quartiles(ps)
    cq = quartiles(cs)
    wins = sum(1 for p, c in pairs if better(c, p, direction))
    iqr = pq[2] - pq[0]
    gain = (wins >= math.ceil(0.9 * len(pairs)) and
            better(cq[1], pq[1], direction) and abs(cq[1] - pq[1]) > iqr)
    worse = (cq[1] - pq[1]) if direction == "lower" else (pq[1] - cq[1])
    limit = bound * abs(pq[1])
    if worse > limit:
        within = "worse than bound"
    elif iqr > limit and not all(better(c, p, direction)
                                 for c in cs for p in ps):
        within = "unresolved (spread wider than bound)"
    else:
        within = "within bound"
    return {"parent": pq, "change": cq, "wins": wins, "pairs": len(pairs),
            "gain": gain, "bound": within}


def paired(runs, metric):
    """(parent, change) values of `metric` per pair index, for pairs where
    both sides produced a result."""
    by = {}
    for r in runs:
        if r.get("result"):
            v = r["result"]["metrics"].get(metric, {}).get("value")
            if v is not None:
                by.setdefault(r["pair"], {})[r["side"]] = v
    return [(v["parent"], v["change"]) for _, v in sorted(by.items())
            if "parent" in v and "change" in v]


def report(runs, end_to_end):
    lines = []
    failed = [r for r in runs if not r.get("result")
              or not r["result"].get("correct", False)]
    for r in failed:
        lines.append(f"run failed or incorrect: pair {r['pair']} {r['side']} "
                     f"seed {r['seed']}")
    for m in end_to_end:
        pairs = paired(runs, m["name"])
        if not pairs:
            continue
        s = summarize_metric(pairs, m["better"], m["bound"])
        p, c = s["parent"], s["change"]
        lines.append(
            f"{m['name']:18s} parent {p[1]:.4g} [{p[0]:.4g}, {p[2]:.4g}]  "
            f"change {c[1]:.4g} [{c[0]:.4g}, {c[2]:.4g}]  "
            f"change better {s['wins']}/{s['pairs']}  "
            f"gain: {'yes' if s['gain'] else 'no'}  bound: {s['bound']}")
    return lines


def load_bench(checkout):
    with open(os.path.join(checkout, "BENCHMARK.json")) as f:
        return json.load(f)


def run_once(checkout, workload, seed, seconds):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=checkout, capture_output=True, text=True)
    return last_json(proc.stdout)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="21-30")
    ap.add_argument("--n", type=int, default=10)
    args = ap.parse_args()
    bench = load_bench(args.change)
    seconds = bench["run_seconds"]
    if load_bench(args.parent).get("run_seconds") != seconds:
        ap.error("parent and change BENCHMARK.json differ in run_seconds")
    runs = []
    for i, (seed, first) in enumerate(
            schedule(parse_seeds(args.seeds), args.n)):
        order = [first, "change" if first == "parent" else "parent"]
        for side in order:
            res = run_once(getattr(args, side), args.workload, seed, seconds)
            runs.append({"pair": i, "side": side, "seed": seed,
                         "result": res})
            print(f"pair {i} seed {seed} {side}: "
                  f"{json.dumps(res['metrics']) if res else 'no result'}",
                  file=sys.stderr, flush=True)
    for line in report(runs, bench["end_to_end"]):
        print(line)


if __name__ == "__main__":
    main()
