"""Arithmetic of the benchmark: medians, tail percentiles, span self
time and operation accounting. Kept free of I/O so test_stats.py can
pin it down."""
import math


def median(values):
    xs = sorted(values)
    if not xs:
        raise ValueError("median of no samples")
    mid = len(xs) // 2
    return xs[mid] if len(xs) % 2 else (xs[mid - 1] + xs[mid]) / 2.0


def percentile(values, p):
    """The p-th percentile (0 < p < 100, nearest rank), or None when
    fewer than ten samples lie beyond it: a tail estimate resting on a
    handful of samples is noise, so it is not reported."""
    xs = sorted(values)
    n = len(xs)
    rank = math.ceil(p / 100.0 * n)
    if n == 0 or n - rank < 10:
        return None
    return xs[rank - 1]


def round_rate(ops):
    """Operations per second of operation time: the operations of a
    round divided by the median round's summed operation latency. Work
    the benchmark does between operations is left out, and the median
    keeps one disturbed round from moving the figure."""
    per_round = {}
    for o in ops:
        per_round[o["round"]] = per_round.get(o["round"], 0.0) + o["dur_ms"]
    return len(ops) / len(per_round) / (median(per_round.values()) / 1000.0)


def gmean_of_medians(ops):
    """Geometric mean, over the distinct operations of a run, of each
    one's median latency in ms. The operations differ by orders of
    magnitude, so their median would be whichever sits in the middle;
    the geometric mean weighs a change to any of them alike."""
    by_name = {}
    for o in ops:
        by_name.setdefault(o["name"], []).append(o["dur_ms"])
    logs = [math.log(median(v)) for v in by_name.values()]
    return math.exp(sum(logs) / len(logs))


def union_ns(intervals):
    """Total length covered by a set of possibly overlapping intervals."""
    total, end = 0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


def self_times(spans):
    """Self time of each span: its duration minus the part of its
    interval covered by its children (children clipped to the parent,
    overlapping children counted once). Returns {span id: ns}."""
    by_id = {s["id"]: s for s in spans}
    children = {}
    for s in spans:
        if s["parent"] in by_id:
            children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_ns"], s["end_ns"]
        covered = union_ns(
            (max(lo, c["start_ns"]), min(hi, c["end_ns"]))
            for c in children.get(s["id"], ())
            if min(hi, c["end_ns"]) > max(lo, c["start_ns"]))
        out[s["id"]] = (hi - lo) - covered
    return out


def self_time_by_name(spans):
    """Self time summed per span name, in ns."""
    selfs = self_times(spans)
    out = {}
    for s in spans:
        out[s["name"]] = out.get(s["name"], 0) + selfs[s["id"]]
    return out


def accounting(ops):
    """(attempted, failed): every operation that ran counts as attempted;
    one that raised or whose output failed its check counts as failed."""
    attempted = len(ops)
    failed = sum(1 for o in ops if not (o["ok"] and o.get("check_ok", True)))
    return attempted, failed
