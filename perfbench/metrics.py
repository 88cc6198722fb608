"""Metric arithmetic over a run record: percentiles, self time, failure
counting and the per-layer aggregation of the traced run. Pure functions,
so the rules are unit-tested without a JVM (see tests/test_metrics.py)."""
import math
import statistics

# Candidate tail percentiles, highest last. A coarse ladder keeps the chosen
# percentile fixed while the sample count moves a little between runs.
TAIL_LADDER = (50, 75, 90, 95, 99, 99.9)
MIN_BEYOND = 10

# Noise floors at local[4] on a quiet 4-core machine: 0.14-0.18 s at the
# start of a run (the JVM is still compiling) and 0.065-0.10 s at its end.
# A floor just above the highest quiet one at either end flags the run as
# taken on a contended machine; runs whose set-up took 1.5-1.8x the quiet
# figure had start floors of 0.21-0.35 s.
FLOOR_LIMIT_START_S = 0.2
FLOOR_LIMIT_END_S = 0.12


def nearest_rank(sorted_values, p):
    """Nearest-rank percentile: the value at rank ceil(p/100 * n)."""
    n = len(sorted_values)
    return sorted_values[max(1, math.ceil(p / 100 * n)) - 1]


def tail(samples):
    """The highest ladder percentile with at least MIN_BEYOND samples ranked
    beyond it (nearest rank). Returns (percentile, value, n, beyond).

    The p50 rung is the median as `statistics.median` gives it, the figure
    op_p50_s reports, so a tail never reads below its p50. When even the
    median has fewer than MIN_BEYOND beyond, the median is returned and the
    caller prints the shortfall next to it."""
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        raise ValueError("no samples")
    best = 50
    for p in TAIL_LADDER:
        if n - max(1, math.ceil(p / 100 * n)) >= MIN_BEYOND:
            best = p
    beyond = n - max(1, math.ceil(best / 100 * n))
    value = statistics.median(xs) if best == 50 else nearest_rank(xs, best)
    return best, value, n, beyond


def contended(floor_start_s, floor_end_s):
    """True when either noise floor of a run is above its quiet limit."""
    return floor_start_s > FLOOR_LIMIT_START_S or floor_end_s > FLOOR_LIMIT_END_S


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, end = 0.0, -math.inf
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def self_time(t0, t1, jobs):
    """Call time not covered by the call's Spark jobs: the span length minus
    the union of its job spans, each clipped to the call."""
    clipped = [(max(a, t0), min(b, t1)) for a, b in jobs if min(b, t1) > max(a, t0)]
    return (t1 - t0) - union_length(clipped)


def failures(calls, oracle_causes, gate_problems):
    """Counts failed or wrong ops against ops attempted.

    A serving call fails when it raised, when its result's digest differs
    from the op's first result, or when the op's first result failed the
    oracle or rows-only check (then every call of that op is wrong). Each
    gate invariant violation counts once more. Set-up calls are not ops.
    Returns (attempted, failed, [(name, cause)])."""
    served = [c for c in calls if c["kind"] != "setup"]
    causes = []
    for c in served:
        cause = c.get("cause") or oracle_causes.get(c["name"])
        if cause:
            causes.append((c["name"], cause))
    for gate, problem in gate_problems:
        causes.append((gate, problem))
    return len(served) + len(gate_problems), len(causes), causes


METRICS = ("busy_s", "setup_s", "driver_s", "task_s", "jobs", "scan_rows",
           "shuffle_records", "failed")


def per_layer(calls, jobs, counters):
    """Per-layer sums from a traced run.

    busy_s sums serving calls, setup_s set-up calls; the other metrics cover
    every call into the layer. driver_s is self time (see `self_time`),
    task_s summed executor run time, failed counts failed calls, failed
    tasks and stage retries. Returns {layer: {metric: value}}."""
    by_span = {}
    for span, a, b in jobs:
        by_span.setdefault(span, []).append((a, b))
    out = {}
    for c in calls:
        m = out.setdefault(c["layer"], dict.fromkeys(METRICS, 0))
        dur = (c["t1"] - c["t0"]) / 1e3
        m["setup_s" if c["kind"] == "setup" else "busy_s"] += dur
        span_jobs = by_span.get(c["span"], [])
        m["driver_s"] += self_time(c["t0"], c["t1"], span_jobs) / 1e3
        m["jobs"] += len(span_jobs)
        k = counters.get(str(c["span"]), {})
        m["task_s"] += k.get("task_ms", 0) / 1e3
        m["scan_rows"] += k.get("scan_rows", 0)
        m["shuffle_records"] += k.get("shuffle_records", 0)
        m["failed"] += (1 if c.get("cause") else 0) + k.get("failed_tasks", 0) \
            + k.get("stage_retries", 0)
    return out


