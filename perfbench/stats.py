"""The benchmark's arithmetic: percentiles, span self time, job
attribution and error rate. Pure functions, unit-tested in tests/."""
import re

# Percentiles a timing may be reported at, lowest first.
PERCENTILE_LADDER = (50.0, 90.0, 99.0, 99.9)
# The program's modules that the per-layer metrics split time between.
MODULES = ("catalog", "service", "sources", "operators", "pipeline")


def quantile(values, q):
    """Linear-interpolated quantile, q in [0, 1]."""
    xs = sorted(values)
    if not xs:
        raise ValueError("quantile of no values")
    pos = (len(xs) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values):
    return quantile(values, 0.5)


def tail_percentile(n, beyond=10):
    """The highest percentile of the ladder with at least `beyond`
    samples above it out of `n`, or None when even the median lacks
    them."""
    best = None
    for p in PERCENTILE_LADDER:
        if n * (100.0 - p) / 100.0 >= beyond - 1e-9:
            best = p
    return best


def union_length(intervals):
    """Total length covered by possibly overlapping [start, end) intervals."""
    total = 0
    cur_start = cur_end = None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_end is None or s > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = s, e
        else:
            cur_end = max(cur_end, e)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def self_time(start, end, children):
    """A span's duration minus the part of it its children cover; children
    may overlap each other and stick out of the parent."""
    clipped = [(max(s, start), min(e, end)) for s, e in children]
    return (end - start) - union_length(clipped)


def error_rate(attempted, failed):
    """Failed over attempted; a run that attempted nothing is all failure."""
    if attempted <= 0:
        return 1.0
    return failed / attempted


_FRAME = re.compile(r"^graft\.([a-z_]+)\.")


def module_of(frames, start=None, spans=()):
    """The module a Spark job works for.

    First the call site: the innermost program frame outside the benchmark
    itself. A job without one (submitted by the benchmark's own action on
    a frame the program built, or by Spark's own threads for broadcasts
    and adaptive stages) goes to the innermost span open at its start, of
    (start, end, module) `spans`; failing both it is "other"."""
    for f in frames:
        m = _FRAME.match(f)
        if m and m.group(1) != "perfbench":
            return m.group(1) if m.group(1) in MODULES else "other"
    if start is not None:
        inner = [s for s in spans if s[0] <= start <= s[1]]
        if inner:
            mod = max(inner, key=lambda s: s[0])[2]
            return mod if mod in MODULES else "other"
    return "other"


def attribute_jobs(jobs, ops, entry_methods=None):
    """Map each job to the op that caused it.

    A job whose submitting thread carried the op id keeps it when that op
    was open at the job's start (a pooled thread can carry a stale id it
    inherited at creation). Any other job goes to the op open at its start
    whose entry method appears in the job's call site, else to the
    earliest-started op open at its start, else to nobody (None).
    `entry_methods` maps an op kind to a method name, e.g.
    {"sync": "processPendingEvents"}."""
    entry_methods = entry_methods or {}
    by_id = {o["id"]: o for o in ops}
    out = {}
    for j in jobs:
        t = j["startNs"]
        o = by_id.get(j["op"])
        if o is not None and o["startNs"] <= t <= o["endNs"]:
            out[j["jobId"]] = o["id"]
            continue
        open_ops = sorted((o for o in ops if o["startNs"] <= t <= o["endNs"]),
                          key=lambda o: o["startNs"])
        pick = None
        for o in open_ops:
            m = entry_methods.get(o["kind"])
            if m and any(m in f for f in j["frames"]):
                pick = o
                break
        if pick is None and open_ops:
            pick = open_ops[0]
        out[j["jobId"]] = pick["id"] if pick else None
    return out
