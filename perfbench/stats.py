"""Statistics the benchmark reports, kept free of I/O so they can be tested.

Times are milliseconds unless a name ends in `_s`.
"""
import math
import statistics

# Nesting depth of each span kind inside an op. At every instant of an op
# the deepest active span owns the time, so the self times of one op's
# spans add up to exactly its wall time even when siblings overlap.
DEPTH = {"op": 0, "construct": 1, "execute": 1, "tablegraph": 2, "microbatch": 2,
         "job": 3, "stage": 4, "fetch": 5}


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail_quantile(xs, q=0.9, beyond=10):
    """Nearest-rank `q` quantile, lowered until at least `beyond` samples lie
    above it. Returns (value, quantile used, sample count)."""
    s = sorted(xs)
    n = len(s)
    if n == 0:
        return 0.0, 0.0, 0
    rank = max(1, min(math.ceil(q * n), n - beyond))
    return s[rank - 1], rank / n, n


def failure_count(ops, checks):
    """Ops that threw, or whose output check failed or never ran."""
    return sum(1 for op in ops
               if op.get("error") or not checks.get(op["check"], {}).get("ok", False))


def union_length(intervals, lo=-math.inf, hi=math.inf):
    """Length of the union of [t0, t1] intervals, clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, end = 0.0, -math.inf
    for a, b in clipped:
        if b <= a:
            continue
        if a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def self_times(t0, t1, spans):
    """Self time per span kind over the op [t0, t1]: each instant belongs to
    the deepest span active then (the later-starting one on a tie), or to
    the op itself when no child span is active."""
    inside = [(max(s["t0"], t0), min(s["t1"], t1), DEPTH[s["kind"]], s["kind"])
              for s in spans if min(s["t1"], t1) > max(s["t0"], t0)]
    cuts = sorted({t0, t1, *(a for a, _, _, _ in inside), *(b for _, b, _, _ in inside)})
    out = {}
    for a, b in zip(cuts, cuts[1:]):
        active = [(d, s0, k) for s0, s1, d, k in inside if s0 <= a and s1 >= b]
        kind = max(active)[2] if active else "op"
        out[kind] = out.get(kind, 0.0) + (b - a)
    return out


def owner(t, ops, slack_ms=1.0):
    """Id of the op whose window holds time `t` (listener stamps are whole
    milliseconds, hence the slack), or None."""
    for op in ops:
        if op["t0"] - slack_ms <= t <= op["t1"] + slack_ms:
            return op["id"]
    return None


def iqr_spread(values):
    """(Q3 - Q1) / median, the run-to-run spread the benchmark is tuned on."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)
