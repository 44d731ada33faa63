"""Arithmetic of the benchmark: percentiles, spans' self times, the
plan/job/footer split of a traced call, and trace overhead.

Pure functions over plain lists and dicts; tested by test_stats.py.
"""

import math


def percentile(values, p):
    """Linear-interpolated percentile (p in [0, 100]) of a non-empty list,
    as numpy's default method computes it."""
    if not values:
        raise ValueError("percentile of no values")
    xs = sorted(values)
    k = (len(xs) - 1) * p / 100.0
    lo = math.floor(k)
    hi = math.ceil(k)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def median(values):
    return percentile(values, 50)


def union_length(intervals):
    """Total length covered by a list of (start, end) intervals."""
    total = 0.0
    cur_start = cur_end = None
    for s, e in sorted(intervals):
        if cur_end is None or s > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = s, e
        else:
            cur_end = max(cur_end, e)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def self_times(spans):
    """Self time of every span: its duration minus the part of its interval
    its direct children cover (children clipped to the parent).

    `spans` are dicts with id, parent (-1 for a root), start and end.
    Returns {id: self_ms}."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        kids = [(max(c["start"], s["start"]), min(c["end"], s["end"]))
                for c in children.get(s["id"], [])]
        kids = [(a, b) for a, b in kids if b > a]
        out[s["id"]] = (s["end"] - s["start"]) - union_length(kids)
    return out


def path_cover(spans, root_name):
    """Share of the wall time of the roots named `root_name` that the self
    times of the spans under them account for. Close to 1 when the traced
    layers cover the blocking path; the rest is untraced time."""
    by_id = {s["id"]: s for s in spans}
    selfs = self_times(spans)
    roots = [s for s in spans if s["name"] == root_name and s["parent"] == -1]
    root_ids = {s["id"] for s in roots}
    wall = sum(s["end"] - s["start"] for s in roots)
    if wall <= 0:
        return 0.0

    def under_root(s):
        p = s["parent"]
        while p != -1:
            if p in root_ids:
                return True
            p = by_id[p]["parent"] if p in by_id else -1
        return False

    covered = sum(selfs[s["id"]] for s in spans if under_root(s))
    return covered / wall


def durations(spans, name):
    return [s["end"] - s["start"] for s in spans if s["name"] == name]


def job_split(spans, jobs, name):
    """For each span called `name`, split its interval by the Spark jobs it
    submitted (same span name and trace id): the time before the first job
    starts (planning), from first job start to last job end (jobs), and
    after the last job ends (e.g. footer reads). Spans without jobs are
    skipped. Returns three lists (before, jobs, after) in ms."""
    before, during, after = [], [], []
    for s in spans:
        if s["name"] != name:
            continue
        js = [j for j in jobs if j["span"] == name and j["trace"] == s["trace"]
              and j["start"] >= s["start"] - 1 and j["end"] <= s["end"] + 1]
        if not js:
            continue
        first = min(j["start"] for j in js)
        last = max(j["end"] for j in js)
        before.append(max(0.0, first - s["start"]))
        during.append(last - first)
        after.append(max(0.0, s["end"] - last))
    return before, during, after


def overhead(untraced, traced, better):
    """Relative worsening of a metric with tracing on: positive means the
    traced run reads worse."""
    if untraced == 0 or traced == 0:
        return 0.0
    return traced / untraced - 1 if better == "lower" else untraced / traced - 1
