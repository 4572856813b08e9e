"""Metric computation for the graft benchmark: percentiles, end-to-end
figures from the op log, and per-layer self times from the traced spans."""
import math
import statistics
from fractions import Fraction

TAIL_LEVELS = (99.9, 99.0, 90.0)


def _rank(n, p):
    """1-based nearest rank of percentile p among n samples: ceil(n * p / 100)."""
    return max(1, math.ceil(n * Fraction(str(p)) / 100))


def percentile(values, p):
    """Nearest-rank percentile of a non-empty list."""
    return sorted(values)[_rank(len(values), p) - 1]


def tail(values):
    """The highest percentile with at least ten samples beyond it, as
    (level, value): the highest of TAIL_LEVELS that has them, or else the
    sample with exactly ten beyond it. None for ten samples or fewer."""
    n = len(values)
    for p in TAIL_LEVELS:
        if n - _rank(n, p) >= 10:
            return p, percentile(values, p)
    if n <= 10:
        return None
    return 100.0 * (n - 10) / n, sorted(values)[n - 11]


def median(values):
    return statistics.median(values) if values else 0.0


def mean(values):
    return sum(values) / len(values) if values else 0.0


def geomean(values):
    """Geometric mean of positive values. Over a mix of op kinds whose
    latencies differ by a factor of several, it moves smoothly with every
    sample, where a median jumps across the gap between two kinds."""
    return math.exp(mean([math.log(v) for v in values])) if values else 0.0


def ok_latencies(ops, kind, failed_ids=frozenset()):
    """Latencies (ms) of ops of `kind` that completed and passed every check.
    A failed op has no latency: it is counted as failed, never timed."""
    return [o["ms"] for o in ops
            if o["kind"] == kind and o["ok"] and o["id"] not in failed_ids]


def union_ns(intervals):
    """Total length of the union of (start, end) intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def op_jobs(spans, jobs):
    """The Spark jobs of the timed ops, each with its op id as "op". A job the
    client thread starts carries its op's job group; a job started on another
    thread, such as a streaming query's micro-batch, carries that thread's
    group and belongs to the op whose root span contains its start."""
    roots = [s for s in spans if s["parent"] == 0]
    out = []
    for j in jobs:
        if j["group"].startswith("op-"):
            op = int(j["group"][3:])
        else:
            op = next((r["op"] for r in roots if r["start"] <= j["start"] <= r["end"]), None)
        if op is not None:
            out.append(dict(j, op=op))
    return out


def attach_jobs(spans, jobs):
    """Job spans for the traced ops: each job of `op_jobs` becomes a child of
    the innermost harness span of its op that contains its start. Returns the
    job spans with their parent ids."""
    by_op = {}
    for s in spans:
        by_op.setdefault(s["op"], []).append(s)
    out = []
    for j in jobs:
        if not j["end"]:
            continue
        cands = [s for s in by_op.get(j["op"], []) if s["start"] <= j["start"] <= s["end"]]
        parent = min(cands, key=lambda s: s["end"] - s["start"]) if cands else None
        if parent is None:
            continue
        out.append(dict(j, id=f"job{j['job']}", parent=parent["id"], layer="spark",
                        start=j["start"], end=min(j["end"], parent["end"])))
    return out


def self_times(spans, job_spans):
    """Self time (ns) per layer: each span minus the part of its interval
    its child spans cover."""
    children = {}
    for s in list(spans) + list(job_spans):
        children.setdefault(s["parent"], []).append(s)
    per_layer = {}
    for s in list(spans) + list(job_spans):
        kids = [(max(c["start"], s["start"]), min(c["end"], s["end"]))
                for c in children.get(s["id"], [])]
        kids = [(a, b) for a, b in kids if b > a]
        own = (s["end"] - s["start"]) - union_ns(kids)
        per_layer[s["layer"]] = per_layer.get(s["layer"], 0) + max(own, 0)
    return per_layer
