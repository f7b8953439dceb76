"""Summary statistics of one run record: latency percentiles with their
sample counts, failure accounting and open-loop lateness."""
import math
import statistics


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def tail(xs):
    """The highest whole percentile with at least ten samples above it.

    Returns (value, percentile, n, beyond). With fewer than twenty samples
    no percentile at or above the median has ten beyond it; the maximum is
    reported then, as percentile 100 with nothing beyond.
    """
    s = sorted(xs)
    n = len(s)
    if n == 0:
        return float("nan"), 0, 0, 0
    for p in range(99, 49, -1):
        rank = math.ceil(p * n / 100)
        if n - rank >= 10:
            return s[rank - 1], p, n, n - rank
    return s[-1], 100, n, 0


def timed(ops):
    """Latencies of the operations that succeeded; failures are never
    timed, they only count in the failure ratio."""
    return [o["latency_s"] for o in ops if o["ok"]]


def fail_ratio(ops):
    return sum(not o["ok"] for o in ops) / len(ops) if ops else 0.0


def pass_times(ops):
    """Summed latency of each complete pass whose operations all
    succeeded."""
    by_pass = {}
    for o in ops:
        by_pass.setdefault(o["pass"], []).append(o)
    return [sum(o["latency_s"] for o in g) for _, g in sorted(by_pass.items())
            if all(o["ok"] for o in g)]


def lateness_ms(gets):
    """How late each open-loop request went out after it was due."""
    return [o["late_s"] * 1e3 for o in gets]


def mark_wrong(ops, verdicts):
    """Fail every query whose result digest the oracle rejected.

    `verdicts` maps (query, digest) to None when the result matched and
    to a reason otherwise; a result that was never checked is a failure.
    """
    out = []
    for o in ops:
        if o["ok"] and o["kind"] == "query":
            why = verdicts.get((o["name"], o["digest"]), "result not checked")
            if why is not None:
                o = dict(o, ok=False, error=f"wrong result: {why}")
        out.append(o)
    return out


def spread(values):
    """Interquartile range as a share of the median."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)
