"""Arithmetic of the benchmark's report: percentiles, result digests and
span self time."""
import hashlib
import math
import statistics

# A tail percentile is reported only when at least this many samples lie
# beyond it.
MIN_BEYOND = 10


def median(values):
    return statistics.median(values) if values else None


def tail(values, p):
    """The p-th percentile (nearest rank) of `values`, and a note.

    The value is None, and the note says why, when fewer than MIN_BEYOND
    samples lie beyond the percentile."""
    n = len(values)
    beyond = math.floor(n * (100 - p) / 100)
    if beyond < MIN_BEYOND:
        return None, (f"p{p} omitted: {n} samples leave {beyond} beyond it, "
                      f"fewer than {MIN_BEYOND}")
    rank = math.ceil(p / 100 * n)
    return sorted(values)[rank - 1], f"{n} samples"


def digest(rows):
    """Order-insensitive digest of a result given as one string per row."""
    h = hashlib.sha256()
    for r in sorted(rows):
        h.update(r.encode())
        h.update(b"\n")
    return h.hexdigest()


def _covered(intervals, lo, hi):
    """Length of the union of `intervals`, clipped to [lo, hi]."""
    total, end = 0, lo
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s or e <= end:
            continue
        total += e - max(s, end)
        end = e
    return total


def self_times(spans):
    """Self time per span name: each span's duration minus the part of its
    interval that its child spans cover. `spans` are dicts with id,
    parent, name, start_ns and end_ns. Returns {name: (ns, count)}."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start_ns"], s["end_ns"]))
    out = {}
    for s in spans:
        lo, hi = s["start_ns"], s["end_ns"]
        own = (hi - lo) - _covered(children.get(s["id"], []), lo, hi)
        ns, cnt = out.get(s["name"], (0, 0))
        out[s["name"]] = (ns + own, cnt + 1)
    return out
