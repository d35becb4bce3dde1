"""Arithmetic behind the benchmark's metrics: percentiles, interval unions,
self time, job attribution and the per-layer sums. Pure functions of the
run artifact, so `python3 perfbench/test_stats.py` tests them without a JVM.
"""
import math
import statistics


def median(values):
    return statistics.median(values) if values else 0.0


def geomean(values):
    """Geometric mean; 0 when any value is 0 (a call type that moved nothing)."""
    return statistics.geometric_mean(values) if min(values) > 0 else 0.0


def tail_percentile(n):
    """Highest whole percentile with at least ten samples beyond it, by the
    nearest-rank rule (the p-th percentile is the ceil(p/100*n)-th smallest
    sample). None when there are ten samples or fewer."""
    if n <= 10:
        return None
    p = (100 * (n - 10)) // n
    while p > 0 and n - math.ceil(p * n / 100) < 10:
        p -= 1
    return p


def percentile(values, p):
    """Nearest-rank percentile of `values`."""
    xs = sorted(values)
    rank = max(1, math.ceil(p * len(xs) / 100))
    return xs[rank - 1]


def spread(values):
    """Distance between the first and third quartile, as a share of the
    median (the steadiness measure the benchmark is tuned against)."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    m = statistics.median(values)
    return (q3 - q1) / m if m else float("inf")


def union_length(intervals):
    """Total length covered by (start, end) intervals, overlaps counted once."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(interval, within):
    s, e = max(interval[0], within[0]), min(interval[1], within[1])
    return (s, e) if e > s else None


def self_time(span, children):
    """A span's duration minus the part of it that its children cover."""
    inside = [c for c in (clip(ch, span) for ch in children) if c]
    return (span[1] - span[0]) - union_length(inside)


def attribute_jobs(ops, jobs):
    """Map each op (by index) to the Spark jobs it caused: the job group
    the benchmark set around the call, or, for jobs started on threads that
    did not inherit the group, the op whose interval holds the job start
    (one client, so at most one op runs at a time)."""
    by_group = {f"op:{o['pass']}:{o['name']}": i for i, o in enumerate(ops)}
    out = {i: [] for i in range(len(ops))}
    for j in jobs:
        g = j.get("group")
        if g is not None:
            if g in by_group:
                out[by_group[g]].append(j)
            continue
        for i, o in enumerate(ops):
            if o["start_ms"] <= j["start_ms"] <= o["end_ms"]:
                out[i].append(j)
                break
    return out


JOB_SUMS = ("stages", "tasks", "shuffle_write_bytes", "shuffle_read_bytes",
            "input_bytes", "output_bytes")


def layer_totals(ops, jobs, plans, cores):
    """Per-layer sums over one pass's ops (times in seconds)."""
    attributed = attribute_jobs(ops, jobs)
    t = {"build_s": sum(o["build_ms"] for o in ops) / 1000.0, "plan_s": 0.0,
         "jobs": 0, "task_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0,
         "slot_idle_s": 0.0, "driver_s": 0.0}
    t.update({k: 0 for k in JOB_SUMS})
    for i, o in enumerate(ops):
        span = (o["start_ms"], o["end_ms"])
        js = [j for j in attributed[i] if j["end_ms"] >= j["start_ms"]]
        busy = union_length([c for c in (clip((j["start_ms"], j["end_ms"]), span)
                                          for j in js) if c])
        task_s = sum(j["task_ms"] for j in js) / 1000.0
        t["jobs"] += len(js)
        t["task_s"] += task_s
        t["cpu_s"] += sum(j["cpu_ns"] for j in js) / 1e9
        t["gc_s"] += sum(j["gc_ms"] for j in js) / 1000.0
        for k in JOB_SUMS:
            t[k] += sum(j[k] for j in js)
        t["slot_idle_s"] += busy / 1000.0 * cores - task_s
        t["driver_s"] += self_time(span, [(j["start_ms"], j["end_ms"]) for j in js]) / 1000.0
        t["plan_s"] += sum(p["plan_ms"] for p in plans
                           if span[0] <= p["start_ms"] <= span[1]) / 1000.0
    return t
