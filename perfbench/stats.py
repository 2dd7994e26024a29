"""Arithmetic shared by run.py and rollup.py (stdlib only).

Everything here is a pure function of the JSON lines the JVM harness
writes, so it can be tested without Spark (see test_stats.py).
"""
import math


def percentile(values, q):
    """Nearest-rank percentile: the smallest value with at least q% of
    the samples at or below it. Returns (value, sample count)."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    rank = max(1, math.ceil(q / 100.0 * len(xs)))
    return xs[rank - 1], len(xs)


def union_ms(intervals, lo, hi):
    """Length of the union of [start, end] intervals clipped to [lo, hi]."""
    clipped = sorted((max(s, lo), min(e, hi)) for s, e in intervals)
    total, cur_s, cur_e = 0, None, None
    for s, e in clipped:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


LAYERS = ("build", "parse", "analysis", "optimization", "planning",
          "plan_other", "codegen", "exec", "sched", "driver")

# span self-times: what is left of a span after its measured children;
# time no instrument measured lands here, not in `unattributed`
SPAN_SELF = ("build", "plan_other", "driver")


def self_times(rec):
    """Split one traced execution's wall time into disjoint layer
    self-times (ms).

    The wall is three back-to-back spans the harness times: the builder
    call, physical planning and the action. Their measured children:
    the tracker's parse and analysis phases (inside the builder, which
    makes the final DataFrame), its optimization and planning phases
    (inside physical planning), and in the action the listener's stage
    intervals (`exec`: at least one stage running), its job intervals
    less the stage intervals (`sched`: a job open, no stage running)
    and codegen compile time. Each span's self-time is the span minus
    its children (`build`, `plan_other`, `driver`: action time outside
    every job that is not codegen), floored at 0. `unattributed` is
    wall minus the sum of the layers. Because the spans are contiguous
    and the self-times absorb what no child measured, it is 0 by
    construction unless a child outgrew its span (double counting, or
    the listener's and the tracker's clocks disagreeing with the
    harness's), which makes it negative.
    """
    ph = rec.get("phases") or {}
    parse = ph.get("parsing", 0.0)
    analysis = ph.get("analysis", 0.0)
    opt = ph.get("optimization", 0.0)
    plan = ph.get("planning", 0.0)
    lo, hi = rec["exec_window"]
    stages = rec.get("stage_intervals") or []
    stage_ms = union_ms(stages, lo, hi)
    active_ms = union_ms(stages + (rec.get("job_intervals") or []), lo, hi)
    codegen = rec.get("codegen_exec_ms", 0.0)
    out = {
        "build": rec["build_ms"] - parse - analysis,
        "parse": parse,
        "analysis": analysis,
        "optimization": opt,
        "planning": plan,
        "plan_other": rec["plan_ms"] - opt - plan,
        "codegen": codegen,
        "exec": stage_ms,
        "sched": active_ms - stage_ms,
        "driver": rec["exec_ms"] - active_ms - codegen,
    }
    out = {k: max(0.0, v) for k, v in out.items()}
    out["unattributed"] = rec["wall_ms"] - sum(out[k] for k in LAYERS)
    return out
