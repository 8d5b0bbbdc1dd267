#!/usr/bin/env python3
"""Spec for ab_pairs.py's pure functions: the run schedule, the result-line
parse, and the gain and bound verdicts of the 9-in-10 rule with the
parent-IQR test. Run: python3 tools/test_ab_pairs.py"""
import os, sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import ab_pairs as ab

# seeds: ranges and lists; the schedule cycles seeds and alternates sides
assert ab.parse_seeds("21-24") == [21, 22, 23, 24]
assert ab.parse_seeds("3,5-6") == [3, 5, 6]
assert ab.schedule([1, 2], 4) == [(1, "parent"), (2, "change"),
                                  (1, "parent"), (2, "change")]

# the result is the last JSON line; log noise and a bad tail give None
out = 'noise\n{"correct": true, "metrics": {}}\n'
assert ab.last_json(out) == {"correct": True, "metrics": {}}
assert ab.last_json("no result here\n") is None
assert ab.last_json('{"a": 1}\n{broken\n') is None

assert ab.quartiles([1.0, 2.0, 3.0, 4.0, 5.0]) == (2.0, 3.0, 4.0)
assert ab.quartiles([7.0]) == (7.0, 7.0, 7.0)

# a clear latency gain: 10/10 wins, medians apart by more than the IQR
parent = [1200, 1210, 1190, 1250, 1180, 1220, 1205, 1230, 1195, 1240]
change = [800, 820, 790, 810, 805, 830, 795, 815, 800, 825]
s = ab.summarize_metric(list(zip(parent, change)), "lower", 0.25)
assert s["wins"] == 10 and s["gain"], s
assert s["bound"] == "within bound", s

# 8 wins in 10 is not a gain, however far apart the medians
mixed = change[:8] + [1300, 1300]
s = ab.summarize_metric(list(zip(parent, mixed)), "lower", 0.25)
assert s["wins"] == 8 and not s["gain"], s

# 10/10 wins by less than the parent's IQR is not a gain either
close = [p - 1 for p in parent]
s = ab.summarize_metric(list(zip(parent, close)), "lower", 0.25)
assert s["wins"] == 10 and not s["gain"], s
assert s["bound"] == "within bound", s

# ties count for neither side
s = ab.summarize_metric([(5.0, 5.0)] * 10, "higher", 0.25)
assert s["wins"] == 0 and not s["gain"], s

# "higher is better": a throughput drop beyond the bound is flagged
s = ab.summarize_metric([(100.0, 60.0)] * 10, "higher", 0.25)
assert s["bound"] == "worse than bound", s
s = ab.summarize_metric([(100.0, 90.0)] * 10, "higher", 0.25)
assert s["bound"] == "within bound", s

# a parent spread wider than the bound leaves a small move unresolved,
# unless every change run beats every parent run
wide = [50.0, 100.0, 150.0, 200.0, 250.0]
s = ab.summarize_metric([(p, p + 1) for p in wide], "lower", 0.25)
assert s["bound"] == "unresolved (spread wider than bound)", s
s = ab.summarize_metric([(p, 10.0) for p in wide], "lower", 0.25)
assert s["bound"] == "within bound", s

# pairing skips pairs where one side produced no result; failed runs are
# reported
def run(pair, side, v, ok=True):
    res = {"correct": ok, "metrics": {"m": {"value": v}}} if v is not None else None
    return {"pair": pair, "side": side, "seed": pair, "result": res}
runs = [run(0, "parent", 2.0), run(0, "change", 1.0),
        run(1, "change", None), run(1, "parent", 3.0),
        run(2, "parent", 4.0), run(2, "change", 2.0, ok=False)]
assert ab.paired(runs, "m") == [(2.0, 1.0), (4.0, 2.0)]
lines = ab.report(runs, [{"name": "m", "better": "lower", "bound": 0.25}])
assert sum(l.startswith("run failed") for l in lines) == 2, lines
assert any(l.startswith("m ") and "change better 2/2" in l for l in lines), lines

print("ab_pairs spec: OK")
