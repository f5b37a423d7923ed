"""Pure functions that turn the raw samples of one run into metrics.

Kept free of I/O so `perfbench/tests` can pin the arithmetic: the tail
percentile rule, span self time, open-loop latency accounting and the
host-health rule.
"""
import math
from bisect import bisect_left

TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def _rank(n, p):
    """1-based nearest rank of percentile p among n samples."""
    return min(n, max(1, math.ceil(p * n / 100.0 - 1e-9)))


def percentile(values, p):
    """Nearest-rank percentile of `values` (p in 0..100)."""
    if not values:
        return float("nan")
    return sorted(values)[_rank(len(values), p) - 1]


def tail_percentile(n, want=None):
    """Highest percentile on the ladder with at least ten samples beyond its
    rank, capped at `want` when given. None when even the median lacks them."""
    for p in TAIL_LADDER:
        if want is not None and p > want:
            continue
        if n - _rank(n, p) >= 10:
            return p
    return None


def union_length(intervals, lo=-math.inf, hi=math.inf):
    """Total length covered by `intervals` (start, end) clipped to [lo, hi]."""
    clipped = sorted((max(s, lo), min(e, hi)) for s, e in intervals if min(e, hi) > max(s, lo))
    total, cur_s, cur_e = 0.0, None, None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span, children):
    """A span's duration minus the part of it its children cover."""
    s, e = span
    return (e - s) - union_length(children, s, e)


def covered_share(span, children):
    """Share of a span's duration that its children cover (1.0 for an
    empty span); the rest is time no child explains."""
    s, e = span
    return union_length(children, s, e) / (e - s) if e > s else 1.0


def event_latencies(due_ms, chunks, batches, t0_ms):
    """Open-loop accounting for a fed stream.

    `due_ms[k]`: when the schedule said event k was due, relative to the
    stream start `t0_ms` (epoch ms). `chunks`: (first, end, offset, added_at)
    per source append. `batches`: (end_offset, end_ms) per micro-batch.
    An event's latency runs from its due time to the end of the first batch
    whose end offset covers its chunk (None when no batch does); its
    generator lateness is how long after its due time it was appended.
    Returns {event index: (latency, lateness)}."""
    batches = sorted(batches)
    offsets = [b[0] for b in batches]
    out = {}
    for first, end, offset, added in chunks:
        i = bisect_left(offsets, offset)
        done = min((b[1] for b in batches[i:]), default=None)
        for k in range(first, end):
            due = t0_ms + due_ms[k]
            out[k] = (None if done is None else done - due, added - due)
    return out


def health(probes_ms):
    """Host-health rule: a run is unhealthy when its slowest dispatch probe
    exceeds twice its median probe."""
    if not probes_ms:
        return {"n": 0, "median_ms": 0.0, "max_ms": 0.0, "healthy": True}
    med = percentile(probes_ms, 50)
    mx = max(probes_ms)
    return {"n": len(probes_ms), "median_ms": med, "max_ms": mx, "healthy": mx <= 2 * med}
