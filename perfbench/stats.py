"""Pure metric arithmetic for the benchmark: percentiles, digests, open-loop
latency and span self-time. Kept free of I/O so tests/ can pin it."""
import hashlib
import math

# A percentile is reported only when this many samples lie beyond it.
MIN_BEYOND = 10


def percentile(values, q):
    """Nearest-rank q-th percentile, or None when fewer than MIN_BEYOND
    samples lie above it."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return None
    rank = max(1, math.ceil(q / 100.0 * n))
    if n - rank < MIN_BEYOND:
        return None
    return xs[rank - 1]


def highest_percentile(values):
    """The highest whole percentile reportable under the rule, or None."""
    for q in range(99, 0, -1):
        if percentile(values, q) is not None:
            return q
    return None


def mean(values):
    return sum(values) / len(values) if values else 0.0


def median(values):
    xs = sorted(values)
    if not xs:
        return 0.0
    mid = len(xs) // 2
    return xs[mid] if len(xs) % 2 else (xs[mid - 1] + xs[mid]) / 2


def normalize(df):
    """The comparison form tools/validate.py uses: columns sorted, values
    stringified, rows sorted."""
    df = df.reindex(sorted(df.columns), axis=1).astype(str)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def digest(df):
    """Order-independent digest of a result frame (of its normal form)."""
    n = normalize(df)
    h = hashlib.sha256("\x1f".join(n.columns).encode())
    for row in n.itertuples(index=False):
        h.update(("\x1e" + "\x1f".join(row)).encode())
    return h.hexdigest()


def open_loop_latency_ms(sched_ns, sent_ns, commit_ns):
    """Latency of one open-loop message: from when it was DUE to be sent
    (not when the generator got round to sending it) to the sink commit
    of its batch. None if it was never committed."""
    del sent_ns  # a late send must not hide the wait it caused
    if commit_ns < 0:
        return None
    return (commit_ns - sched_ns) / 1e6


def self_times(spans):
    """{span id: self time in ns}: a span's duration minus the part of it
    that its children cover (children clipped to the parent, overlaps
    between children counted once)."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_ns"], s["end_ns"]
        ivs = sorted((max(lo, c["start_ns"]), min(hi, c["end_ns"]))
                     for c in kids.get(s["id"], []))
        covered, cur_lo, cur_hi = 0, None, None
        for a, b in ivs:
            if b <= a:
                continue
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (hi - lo) - covered
    return out


def pass_coverage(spans):
    """{pass id: sum of self times of the pass span's subtree / its wall
    time}. 1.0 means the layer spans account for the pass exactly."""
    selfs = self_times(spans)
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s["id"])
    out = {}
    for s in spans:
        if s["name"] != "pass":
            continue
        total, stack = 0, [s["id"]]
        while stack:
            i = stack.pop()
            total += selfs[i]
            stack.extend(kids.get(i, []))
        wall = s["end_ns"] - s["start_ns"]
        out[s["pass"]] = total / wall if wall > 0 else 0.0
    return out
