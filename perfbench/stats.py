"""Order statistics and span self-time accounting for the benchmark."""
import math
import statistics


def quartiles(xs):
    """(q1, median, q3) as `statistics.quantiles(xs, n=4)` gives them."""
    if len(xs) == 1:
        return (xs[0], xs[0], xs[0])
    q = statistics.quantiles(xs, n=4)
    return (q[0], q[1], q[2])


def tail_pct(n, beyond=10):
    """Highest whole percentile whose nearest-rank sample has at least
    `beyond` of the `n` samples above it; 50 when there are too few."""
    best = 50
    for p in range(50, 100):
        if n - math.ceil(p * n / 100) >= beyond:
            best = p
    return best


def percentile(xs, p):
    """Nearest-rank percentile."""
    s = sorted(xs)
    return s[max(0, math.ceil(p * len(s) / 100) - 1)]


def assign_parents(spans, levels):
    """Give each span without a parent the innermost span of an outer
    level that contains its start. `levels` maps kind -> depth (smaller
    is outer); spans whose kind is missing keep their parent."""
    outer = sorted((s for s in spans if s["kind"] in levels),
                   key=lambda s: s["end"] - s["start"])
    for s in spans:
        if s.get("parent") is not None or s["kind"] not in levels:
            continue
        d = levels[s["kind"]]
        for c in outer:
            if (levels[c["kind"]] < d and c is not s
                    and c["start"] <= s["start"] <= c["end"]):
                s["parent"] = c["id"]
                break


def clip_to_parents(spans):
    """Shrink every span to its parent's interval, outermost first, so
    a child never claims time outside its parent."""
    by_id = {s["id"]: s for s in spans}
    done = set()

    def clip(s):
        if s["id"] in done:
            return
        p = by_id.get(s.get("parent"))
        if p is not None:
            clip(p)
            s["start"] = min(max(s["start"], p["start"]), p["end"])
            s["end"] = max(min(s["end"], p["end"]), s["start"])
        done.add(s["id"])

    for s in spans:
        clip(s)


def self_times(spans):
    """{span id: self time}. Each instant belongs to the innermost spans
    active at it (those with no active child), shared equally when
    several run at once; so a span's self time is its duration minus
    the part its children cover, and self times of concurrent siblings
    never add up to more than the wall time."""
    kids = {}
    for s in spans:
        if s.get("parent") is not None:
            kids.setdefault(s["parent"], []).append(s["id"])
    own = {s["id"]: 0.0 for s in spans}
    points = sorted({s["start"] for s in spans} | {s["end"] for s in spans})
    for a, b in zip(points, points[1:]):
        active = [s for s in spans if s["start"] <= a and s["end"] >= b]
        ids = {s["id"] for s in active}
        inner = [s for s in active if not any(k in ids for k in kids.get(s["id"], ()))]
        for s in inner:
            own[s["id"]] += (b - a) / len(inner)
    return own
