"""Turns one benchmark record into metrics.

Pure functions over the record the JVM writes (ops, passes, spans, jobs,
queries), so the tracing arithmetic can be tested without Spark.
"""
import statistics

# Spark's scheduler stamps jobs in whole milliseconds; a job stamped t was
# submitted somewhere in [t, t + 1).
STAMP_MS = 1.0
# The host probe's median sample (HostProbe in scala/perfbench/Main.scala),
# in ms, on a quiet 4-core Xeon at 2.0 GHz.
QUIET_PROBE_MS = 4.0


def host_slowdown(probe, lo, hi):
    """How much slower than the quiet reference host the host ran the
    benchmark's JVM between epoch ms lo and hi: the median of the probe's
    (at, ms) samples in that window over QUIET_PROBE_MS. With no sample in
    the window, the median of all of them."""
    xs = [ms for at, ms in probe if lo <= at <= hi] or [ms for _, ms in probe]
    return statistics.median(xs) / QUIET_PROBE_MS


def tail(samples, beyond=10):
    """The highest percentile that has at least `beyond` samples above it.

    Returns (value, percentile, n) or None when there are too few samples.
    With 40 samples that is the 30th smallest, the 75th percentile."""
    xs = sorted(samples)
    i = len(xs) - 1 - beyond
    if i < 0:
        return None
    return xs[i], 100.0 * (i + 1) / len(xs), len(xs)


def union_length(intervals, lo=None, hi=None):
    """Length of the union of [a, b] intervals, clipped to [lo, hi]."""
    clipped = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            clipped.append((a, b))
    clipped.sort()
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def children(spans):
    kids = {s["id"]: [] for s in spans}
    for s in spans:
        if s["parent"] in kids:
            kids[s["parent"]].append(s)
    return kids


def self_time(span, kids):
    """A span's wall time minus the part of it its child spans cover."""
    wall = span["end"] - span["start"]
    covered = union_length([(c["start"], c["end"]) for c in kids[span["id"]]],
                           span["start"], span["end"])
    return wall - covered


def depth(spans):
    by_id = {s["id"]: s for s in spans}
    out = {}
    for s in spans:
        d, p = 0, s["parent"]
        while p in by_id:
            d, p = d + 1, by_id[p]["parent"]
        out[s["id"]] = d
    return out


def attribute(t, spans, depths):
    """The span that was open at time t: the innermost span whose interval
    holds t, allowing for the whole-millisecond stamp; among equally deep
    candidates the one that started last. None when no span was open."""
    best = None
    for s in spans:
        if s["start"] - STAMP_MS <= t <= s["end"]:
            key = (depths[s["id"]], s["start"])
            if best is None or key > best[0]:
                best = (key, s)
    return None if best is None else best[1]


def layer_of(name):
    return name.split(".", 1)[0]


def breakdown(spans, jobs, queries):
    """Per-span counters for one traced pass: the jobs and planning time
    attributed to each span, its self time, and its driver-only time (self
    time not covered by any of its own jobs)."""
    depths = depth(spans)
    kids = children(spans)
    per = {s["id"]: {"jobs": [], "plan_ms": 0.0} for s in spans}
    unattributed = {"jobs": 0, "plan_ms": 0.0}
    for j in jobs:
        s = attribute(j["submit"], spans, depths)
        if s is None:
            unattributed["jobs"] += 1
        else:
            per[s["id"]]["jobs"].append(j)
    for q in queries:
        s = attribute(q["at"], spans, depths)
        if s is None:
            unattributed["plan_ms"] += q["plan_ms"]
        else:
            per[s["id"]]["plan_ms"] += q["plan_ms"]
    rows = []
    for s in spans:
        own = per[s["id"]]["jobs"]
        st = self_time(s, kids)
        # driver-only: the part of the span covered neither by a child span
        # nor by one of its own jobs
        busy = [(c["start"], c["end"]) for c in kids[s["id"]]]
        busy += [(j["submit"], j["end"] if j["end"] >= 0 else s["end"]) for j in own]
        driver = (s["end"] - s["start"]) - union_length(busy, s["start"], s["end"])
        rows.append({
            "name": s["name"], "layer": layer_of(s["name"]),
            "wall_ms": s["end"] - s["start"], "self_ms": st, "driver_ms": driver,
            "jobs": len(own), "tasks": sum(j["tasks"] for j in own),
            "cpu_ms": sum(j["cpu_ms"] for j in own),
            "shuffle_mb": sum(j["shuffle_write"] for j in own) / 2**20,
            "spill_mb": sum(j["spill"] for j in own) / 2**20,
            "plan_ms": per[s["id"]]["plan_ms"],
            "top": s["parent"] < 0,
        })
    return rows, unattributed


COUNTERS = ("jobs", "tasks", "cpu_ms", "shuffle_mb", "spill_mb", "plan_ms", "driver_ms")


def pass_slice(record, p):
    """Spans, jobs and queries that belong to pass p (by time)."""
    lo, hi = p["start"], p["end"]
    spans = [s for s in record["spans"] if lo <= s["start"] <= hi]
    jobs = [j for j in record["jobs"] if lo - STAMP_MS <= j["submit"] <= hi]
    queries = [q for q in record["queries"] if lo - STAMP_MS <= q["at"] <= hi]
    return spans, jobs, queries
