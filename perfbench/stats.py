"""Arithmetic the benchmark reduces its raw records with: percentiles and
the sample rule behind them, interval unions and per-layer self time."""
import math
import statistics

# a reported percentile needs at least this many samples beyond it
MIN_TAIL = 10


def median(values):
    return statistics.median(values)


def percentile(values, q):
    """Nearest-rank percentile, `q` in (0, 1]."""
    s = sorted(values)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def supports(n, q):
    """True when `n` samples leave at least MIN_TAIL samples beyond the
    `q` percentile."""
    return n - math.ceil(q * n) >= MIN_TAIL


def tail(values, q):
    """The `q` percentile, or None when the sample is too small for it."""
    return percentile(values, q) if supports(len(values), q) else None


def clip(intervals, lo, hi):
    return [(max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo)]


def union(intervals):
    """Disjoint, sorted cover of `intervals` [(start, end)]."""
    out = []
    for a, b in sorted(intervals):
        if out and a <= out[-1][1]:
            out[-1] = (out[-1][0], max(out[-1][1], b))
        elif b > a:
            out.append((a, b))
    return out


def covered(intervals, lo=-math.inf, hi=math.inf):
    """Length of the union of `intervals` inside [lo, hi]."""
    return sum(b - a for a, b in union(clip(intervals, lo, hi)))


def driver_only(op, jobs):
    """Wall time of operation `op` = (start, end) during which none of its
    jobs was running."""
    return (op[1] - op[0]) - covered(jobs, *op)


def self_time(span, children):
    """A span's duration minus the part of it its children cover."""
    return (span[1] - span[0]) - covered(children, *span)


def layer_self_times(op, phases, jobs):
    """Split one operation's wall time into self times: `execution` is the
    time a job ran; `planning` the time in a planner phase with no job
    running; `op` the rest, the operation's own layer. The three add up to
    the operation's wall time."""
    execution = covered(jobs, *op)
    either = covered(list(phases) + list(jobs), *op)
    return {"execution": execution, "planning": either - execution,
            "op": (op[1] - op[0]) - either}


def quartile_spread(values):
    """(Q3 - Q1) / median, the run-to-run spread the acceptance rule uses."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)
