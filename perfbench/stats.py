"""The benchmark's own arithmetic: percentiles, interval unions, span
self time and time-based attribution of Spark events to spans.

Times are epoch milliseconds (the clock Spark stamps task, job and stage
events with) unless a name says seconds.
"""
import math
import statistics


def median(xs):
    """Median, or 0.0 for no samples (a run whose operations all failed
    still prints its metrics, beside `correct: false`)."""
    return statistics.median(xs) if xs else 0.0


def ratio(a, b):
    return a / b if b else 0.0


def tail_percentile(xs, q=0.95, min_beyond=10):
    """The nearest-rank `q` quantile of `xs`, lowered until at least
    `min_beyond` samples lie strictly above it, but never below the
    nearest-rank median. Returns (value, rank share reported), or
    (median, 0.5) when no rank above the median qualifies."""
    s = sorted(xs)
    n = len(s)
    k = min(n - 1, max(0, math.ceil(q * n) - 1))
    k_med = max(0, math.ceil(0.5 * n) - 1)
    while k > k_med:
        if sum(1 for v in s if v > s[k]) >= min_beyond:
            return s[k], (k + 1) / n
        k -= 1
    return statistics.median(s), 0.5


def union_length(intervals, lo=None, hi=None):
    """Total length covered by the union of [a, b] intervals, each first
    clipped to [lo, hi] when given."""
    clipped = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            clipped.append((a, b))
    clipped.sort()
    total, cur_a, cur_b = 0, None, None
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


def driver_ms(start, end, task_intervals):
    """Wall time of [start, end] during which no task was running."""
    return (end - start) - union_length(task_intervals, start, end)


def self_ms(spans):
    """Self time of each span: its duration minus the time its direct
    children cover (children may nest further or overlap each other;
    overlapping children count once). `spans` are dicts with id,
    parent, start_ms and end_ms; returns {id: self ms}."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        kids = [(c["start_ms"], c["end_ms"]) for c in children.get(s["id"], [])]
        out[s["id"]] = (s["end_ms"] - s["start_ms"]) - union_length(
            kids, s["start_ms"], s["end_ms"])
    return out


def exec_ms_by_file(execs, span):
    """Wall ms covered by the SQL executions that started inside `span`,
    by the source file of their call site (the description Spark gives
    an execution, "save at CsvToParquet.scala:31"), with "*" for all of
    them; nested or overlapping executions count once. `execs` are
    [start, end, description]."""
    groups = {}
    for a, b, desc in execs:
        if in_span(a, span):
            f = desc.rsplit(" at ", 1)[-1].split(":")[0]
            groups.setdefault(f, []).append((a, b))
            groups.setdefault("*", []).append((a, b))
    return {f: union_length(iv, span["start_ms"], span["end_ms"])
            for f, iv in groups.items()}


def in_span(t, span):
    return span["start_ms"] <= t <= span["end_ms"]


def span_counters(span, tasks, jobs, stages, plans):
    """Spark counters of the events that started inside `span`.

    tasks: [launch, finish, cpu_ns, run_ms, gc_ms, shuffle_write,
    shuffle_read, spill, input]; jobs: start times; stages:
    [submission, completion, ...]; plans: [end of planning, planning
    ms]."""
    ts = [t for t in tasks if in_span(t[0], span)]
    return {
        "tasks": len(ts),
        "jobs": sum(1 for j in jobs if in_span(j, span)),
        "stages": sum(1 for s in stages if in_span(s[0], span)),
        "task_cpu_s": sum(t[2] for t in ts) / 1e9,
        "task_run_s": sum(t[3] for t in ts) / 1e3,
        "gc_s": sum(t[4] for t in ts) / 1e3,
        "shuffle_write_bytes": sum(t[5] for t in ts),
        "shuffle_read_bytes": sum(t[6] for t in ts),
        "spill_bytes": sum(t[7] for t in ts),
        "input_bytes": sum(t[8] for t in ts),
        "driver_s": driver_ms(span["start_ms"], span["end_ms"],
                              [(t[0], t[1]) for t in ts]) / 1e3,
        "plan_s": sum(p[1] for p in plans if in_span(p[0], span)) / 1e3,
        "codegen_compiles": span.get("compiles", 0),
        "codegen_compile_s": span.get("compile_ms", 0.0) / 1e3,
    }
