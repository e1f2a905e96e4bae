"""Statistics for the regrid benchmark: the tail-percentile rule, span self
times, and the run-to-run spread used by the steadiness mode."""

import statistics

TAIL_BEYOND = 10


def median(values):
    return statistics.median(values) if values else float("nan")


def tail(values):
    """The highest percentile with at least TAIL_BEYOND samples beyond it.

    Returns (value, percentile, n). With n samples sorted ascending, the
    sample at 0-based rank n - TAIL_BEYOND - 1 has exactly TAIL_BEYOND
    samples above it, and is the p = (n - TAIL_BEYOND) / n percentile.
    Fewer than TAIL_BEYOND + 1 samples support no tail; that raises.
    """
    n = len(values)
    if n <= TAIL_BEYOND:
        raise ValueError(f"{n} samples: a tail needs more than {TAIL_BEYOND}")
    s = sorted(values)
    return s[n - TAIL_BEYOND - 1], 100.0 * (n - TAIL_BEYOND) / n, n


def self_times(spans):
    """Self time of each span: its duration minus the part of it that its
    child spans cover. Children of one span run one after another on the
    driver thread, so their intervals are disjoint; overlapping children
    are merged so no interval is subtracted twice."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered, end = 0, s["start_ns"]
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start_ns"]):
            lo, hi = max(c["start_ns"], end, s["start_ns"]), min(c["end_ns"], s["end_ns"])
            if hi > lo:
                covered += hi - lo
                end = hi
        out[s["id"]] = (s["end_ns"] - s["start_ns"] - covered) / 1e9
    return out


def spread(values):
    """Median, first and third quartile, and (q3 - q1) / median."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3,
            "iqr_over_median": (q3 - q1) / med if med else float("nan")}
