"""Statistics the benchmark reports, kept free of I/O so they can be tested."""
import math
import statistics

# A tail percentile is reported only where at least this many samples lie beyond it.
TAIL_BEYOND = 10


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs, beyond=TAIL_BEYOND):
    """The highest percentile with at least `beyond` samples beyond it, as
    (percentile, value); the value is the sample with exactly `beyond`
    samples above it. With too few samples for that percentile to lie above
    the median, the largest sample, as percentile 100."""
    n = len(xs)
    if n < 2 * beyond:
        return (100.0, max(xs)) if xs else None
    return 100.0 * (n - beyond) / n, sorted(xs)[n - beyond - 1]


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_start, cur_end = 0.0, None, None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def driver_gap(window, jobs):
    """Time inside `window` = (start, end) that no job span covers: the
    driver-side time between and around Spark jobs."""
    lo, hi = window
    clipped = [(max(s, lo), min(e, hi)) for s, e in jobs if e > lo and s < hi]
    return (hi - lo) - union_length(clipped)


def self_times(spans):
    """Self time per span id: its duration minus the part its children cover.
    `spans` are dicts with id, parent, start_ms and end_ms."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start_ms"], s["end_ms"]))
    out = {}
    for s in spans:
        kids = [(max(a, s["start_ms"]), min(b, s["end_ms"])) for a, b in children.get(s["id"], [])]
        out[s["id"]] = (s["end_ms"] - s["start_ms"]) - union_length([k for k in kids if k[1] > k[0]])
    return out


def geomean(xs):
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else 0.0

