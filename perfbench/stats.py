"""Statistics of the workload benchmark: percentiles, open-loop accounting,
span self time. Pure functions; `test_stats.py` covers them."""
import math
import statistics

BEYOND = 10


def tail_q(n, q=0.9, beyond=BEYOND):
    """The highest percentile, at most `q`, that keeps at least `beyond`
    samples above it among `n`; never below the median."""
    if n <= 0:
        return 0.5
    return max(0.5, min(q, (n - beyond) / n))


def percentile(values, q):
    """Nearest-rank percentile: the smallest value with at least a `q`
    share of the samples at or below it. Failed samples enter as inf."""
    xs = sorted(values)
    if not xs:
        return math.nan
    k = max(1, math.ceil(q * len(xs) - 1e-9))
    return xs[k - 1]


def median(values):
    return statistics.median(values) if values else math.nan


def mean(values, empty=math.nan):
    values = list(values)
    return sum(values) / len(values) if values else empty


def summary(latencies, planned):
    """Median and tail of `planned` operations; a planned operation missing
    from `latencies` counts as infinitely slow, as does a failed one (inf)."""
    lat = list(latencies) + [math.inf] * max(0, planned - len(latencies))
    q = tail_q(planned)
    p50 = median(lat)
    return {"n": planned, "p50": p50, "tail_q": q, "tail": max(p50, percentile(lat, q))}


def open_loop(samples, planned):
    """Latency and generator lateness of an open loop.

    Each sample has `due` (when the schedule said to send it), `submit`
    (when the generator handed it over), `end`, and `error`. Latency runs
    from `due`, so a stall also charges every request queued behind it.
    """
    out = summary([s["end"] - s["due"] if not s.get("error") else math.inf
                   for s in samples], planned)
    late = [max(0.0, s["submit"] - s["due"]) for s in samples]
    out["lateness_tail"] = percentile(late, tail_q(len(late))) if late else math.nan
    return out


def self_times(spans):
    """Self time of every span: its duration minus the part of that
    interval its children cover (overlapping children count once)."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered, cur_a, cur_b = 0.0, None, None
        ivs = sorted((max(c["start"], s["start"]), min(c["end"], s["end"]))
                     for c in kids.get(s["id"], []))
        for a, b in ivs:
            if b <= a:
                continue
            if cur_b is None or a > cur_b:
                if cur_b is not None:
                    covered += cur_b - cur_a
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        if cur_b is not None:
            covered += cur_b - cur_a
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def layer_table(spans, operations=("op", "ingest")):
    """Per operation (the nearest enclosing span named in `operations`):
    wall time and self time by layer name. Spans outside any operation,
    such as the container of a concurrent rollup, are left out."""
    own = self_times(spans)
    by_id = {s["id"]: s for s in spans}

    def operation(s):
        while s["name"] not in operations:
            if s["parent"] not in by_id:
                return None
            s = by_id[s["parent"]]
        return s

    table = {}
    for s in spans:
        r = operation(s)
        if r is None:
            continue
        row = table.setdefault(r["id"], {"req": r["req"], "name": r["name"],
                                         "wall": r["end"] - r["start"], "self": {}})
        row["self"][s["name"]] = row["self"].get(s["name"], 0.0) + own[s["id"]]
    return list(table.values())
