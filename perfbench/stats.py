"""Statistics the benchmark reports: medians, the tail percentile and the
failure ratio.

A failed op counts as an infinitely slow one: it misses every latency
limit, so it sits beyond every percentile.
"""
import math

INF = math.inf


def median(xs):
    s = sorted(xs)
    if not s:
        raise ValueError("median of no samples")
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def latencies(ops, field="s"):
    """Samples of `field` (wall seconds by default) of `ops`, dicts with
    that field and `ok`; failed ops read as infinite."""
    return [o[field] if o["ok"] else INF for o in ops]


def tail(xs, beyond=10):
    """The highest percentile that has at least `beyond` samples above
    it, as (percentile, value, sample count); None when the sample is
    too small to have such a percentile above its lowest value."""
    s = sorted(xs)
    n = len(s)
    i = n - beyond - 1
    if i < 0:
        return None
    pct = math.floor(100.0 * (i + 1) / n)
    return pct, s[i], n


def fail_ratio(ops):
    """Failed ops (thrown, refused or wrong output) over ops attempted."""
    if not ops:
        raise ValueError("no ops attempted")
    return sum(1 for o in ops if not o["ok"]) / len(ops)

