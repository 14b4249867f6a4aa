"""The benchmark's arithmetic: percentiles, and self and idle time from the
spans and task intervals a traced run records (kgbench/scala/Trace.scala).
Times are in any one unit; intervals are (start, end) pairs."""

import math

TAIL_CANDIDATES = (99, 95, 90, 75, 50)

STAGES = ["read", "chunk", "ner", "relations", "entities", "link.candidates",
          "link.verdicts", "cc", "canon.nodes", "canon.edges",
          "canon.mentions_final", "tableio.commit", "tableio.read",
          "retrieval.ppr", "retrieval.graph", "retrieval.hybrid"]
STAGE_METRICS = ["wall_s", "task_s", "idle_s", "jobs", "rows_out", "shuffle_mb"]


def tail(samples):
    """(p, value) for the highest percentile p that has at least ten
    samples beyond it (nearest-rank) among TAIL_CANDIDATES, or None when
    even the median has fewer than ten beyond it."""
    xs = sorted(samples)
    n = len(xs)
    for p in TAIL_CANDIDATES:
        rank = math.ceil(p / 100 * n)
        if rank >= 1 and n - rank >= 10:
            return p, xs[rank - 1]
    return None


def covered(start, end, intervals):
    """Length of [start, end] covered by the union of `intervals`."""
    clipped = sorted((max(s, start), min(e, end)) for s, e in intervals
                     if e > start and s < end)
    total, cur_s, cur_e = 0.0, None, None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def idle_time(start, end, task_intervals):
    """Span time during which no task ran."""
    return (end - start) - covered(start, end, task_intervals)


def self_time(start, end, child_intervals):
    """Span time not covered by the span's children."""
    return (end - start) - covered(start, end, child_intervals)


def innermost(spans, t):
    """Index of the deepest span whose interval contains time t, or None.
    Spans nest, so the containing span that started last is the deepest."""
    best = None
    for i, s in enumerate(spans):
        if s["start"] <= t <= s["end"] and (
                best is None or s["start"] >= spans[best]["start"]):
            best = i
    return best


def layer_metrics(trace, traced_ops):
    """Per-stage metrics per traced operation. `trace` holds spans (ms),
    tasks [launch, finish, run_ms, shuffle_bytes, spill_bytes, failed] (ms)
    and job start times (ms)."""
    spans = trace["spans"]
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    task_of = {}
    for t in trace["tasks"]:
        i = innermost(spans, t[0])
        if i is not None:
            task_of.setdefault(i, []).append(t)
    jobs_of = {}
    for j in trace["jobs"]:
        i = innermost(spans, j)
        if i is not None:
            jobs_of[i] = jobs_of.get(i, 0) + 1
    out = {f"{st}.{m}": 0.0 for st in STAGES for m in STAGE_METRICS}
    n = max(traced_ops, 1)
    for i, s in enumerate(spans):
        if s["name"] not in STAGES:
            continue
        tasks = task_of.get(i, [])
        key = s["name"] + "."
        out[key + "wall_s"] += self_time(
            s["start"], s["end"], children.get(s["id"], [])) / 1e3 / n
        out[key + "task_s"] += sum(t[2] for t in tasks) / 1e3 / n
        out[key + "idle_s"] += idle_time(
            s["start"], s["end"], [(t[0], t[1]) for t in tasks]) / 1e3 / n
        out[key + "jobs"] += jobs_of.get(i, 0) / n
        out[key + "rows_out"] += s["rows"] / n
        out[key + "shuffle_mb"] += sum(t[3] for t in tasks) / 2**20 / n
    return out


def rows_of(trace, name):
    return sum(s["rows"] for s in trace["spans"] if s["name"] == name)

