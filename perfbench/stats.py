"""Latency statistics and the metrics derived from a run's raw op times."""

import math


def percentile(xs, p):
    """The p-th percentile (0..100) by linear interpolation between the
    closest ranks, the same rule as numpy's default."""
    if not xs:
        raise ValueError("no samples")
    s = sorted(xs)
    r = p / 100.0 * (len(s) - 1)
    lo = int(r)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (r - lo)


def median(xs):
    return percentile(xs, 50)


def gmean_of_medians(samples, kinds, deadline):
    """Geometric mean over ``kinds`` of each kind's median time; a kind
    with no samples (it never ran: an earlier op failed) is charged its
    ``deadline(kind)``."""
    logs = [math.log(median(samples.get(k) or [deadline(k)])) for k in kinds]
    return math.exp(sum(logs) / len(logs))


def op_metrics(samples, kinds, deadline, window_s, completed):
    """End-to-end metrics of the measured window: the geometric mean over
    the workload's op kinds of each kind's median latency (a failed op
    carries its deadline), so every kind weighs the same whatever its
    share of the ops; and completed ops of all kinds per second."""
    return {
        "op_p50_gmean_ms": {
            "value": gmean_of_medians(samples, kinds, deadline) * 1e3, "unit": "ms"},
        "ops_per_s": {"value": completed / window_s, "unit": "1/s"},
    }


def kind_metrics(samples, names):
    """p50/p90 of one op: ``names`` maps an op to the metric name prefix its
    percentiles are reported under; the op's samples are those of every
    kind ``<op>.<variant>``."""
    out = {}
    for op, prefix in names.items():
        xs = [x for k, v in samples.items() if k.startswith(op + ".") for x in v]
        if xs:
            for p in (50, 90):
                out["%s_p%d_ms" % (prefix, p)] = {
                    "value": percentile(xs, p) * 1e3, "unit": "ms"}
    return out


def overhead(untraced, traced):
    """Traced over untraced time, minus one: the geometric mean over the
    op kinds that ran both ways of the ratio of their medians; nothing
    when no kind did."""
    kinds = sorted(set(untraced) & set(traced))
    if not kinds:
        return {}
    logs = [math.log(median(traced[k]) / median(untraced[k])) for k in kinds]
    return {"trace.overhead_frac": {
        "value": math.exp(sum(logs) / len(logs)) - 1, "unit": "ratio"}}
