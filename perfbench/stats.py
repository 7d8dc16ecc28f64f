"""The benchmark's arithmetic: percentiles and their sample-count rule,
event freshness from trigger offset ranges, span self time, spreads."""
import math
import statistics


def percentile(values, q):
    """Linear-interpolated q-quantile (0 <= q <= 1) of `values`."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def beyond(n, q):
    """How many of n samples lie beyond the q-quantile's rank."""
    return n - math.ceil(q * n)


def tail_ok(n, q=0.9, need=10):
    """A tail percentile is reported only when at least `need` samples lie
    beyond it (p90 needs n >= 100)."""
    return beyond(n, q) >= need


def geomean(values):
    xs = list(values)
    if not xs or min(xs) <= 0:
        raise ValueError("geomean needs positive samples")
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def offsets(js):
    """A GraftLog offset map as parsed from progress JSON (None -> {})."""
    if not js:
        return {}
    import json
    return {int(k): int(v) for k, v in json.loads(js).items()}


def freshness_ms(segments, triggers):
    """Per-event freshness in ms.

    segments: dicts with partition, start, end (offsets [start, end)) and
      scheduledUs, the time the segment was due to be published (so a late
      generator counts against freshness instead of hiding it).
    triggers: dicts with startOffset, endOffset (offset-map JSON or dict)
      and commitUs, the time the trigger holding those offsets committed.
    Each event in a trigger's range contributes commitUs - scheduledUs of
    the segment holding it. Events outside every segment (the staged
    backlog) contribute nothing.
    """
    by_part = {}
    for s in segments:
        by_part.setdefault(s["partition"], []).append(s)
    out = []
    for t in triggers:
        lo = t["startOffset"] if isinstance(t["startOffset"], dict) else offsets(t["startOffset"])
        hi = t["endOffset"] if isinstance(t["endOffset"], dict) else offsets(t["endOffset"])
        for p, end in hi.items():
            start = lo.get(p, 0)
            for s in by_part.get(p, ()):
                n = min(end, s["end"]) - max(start, s["start"])
                if n > 0:
                    out.extend([(t["commitUs"] - s["scheduledUs"]) / 1000.0] * n)
    return out


def self_time_us(spans):
    """Per-layer self time: each span's duration minus the part of it its
    children cover (children clipped to the parent, overlaps merged)."""
    by_id = {s["id"]: s for s in spans}
    kids = {}
    for s in spans:
        if s["parent"] in by_id:
            kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        a, b = s["start"], s["end"]
        covered, cur = 0, None
        for lo, hi in sorted((max(a, c["start"]), min(b, c["end"]))
                             for c in kids.get(s["id"], ())):
            if hi <= lo:
                continue
            if cur is None or lo > cur[1]:
                if cur is not None:
                    covered += cur[1] - cur[0]
                cur = [lo, hi]
            else:
                cur[1] = max(cur[1], hi)
        if cur is not None:
            covered += cur[1] - cur[0]
        out[s["layer"]] = out.get(s["layer"], 0) + max(0, (b - a) - covered)
    return out


def slope(points):
    """Least-squares slope of (x, y) points; 0 for fewer than two."""
    if len(points) < 2:
        return 0.0
    mx = sum(x for x, _ in points) / len(points)
    my = sum(y for _, y in points) / len(points)
    den = sum((x - mx) ** 2 for x, _ in points)
    return 0.0 if den == 0 else sum((x - mx) * (y - my) for x, y in points) / den


def slope_se(points):
    """Standard error of the least-squares slope of (x, y) points; inf for
    fewer than three."""
    n = len(points)
    if n < 3:
        return math.inf
    mx = sum(x for x, _ in points) / n
    my = sum(y for _, y in points) / n
    den = sum((x - mx) ** 2 for x, _ in points)
    if den == 0:
        return math.inf
    b = slope(points)
    resid = sum((y - my - b * (x - mx)) ** 2 for x, y in points)
    return math.sqrt(resid / (n - 2) / den)


def spread(values):
    """Interquartile distance as a share of the median."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)
