"""Metric arithmetic for the benchmark: percentiles, span self times, job
attribution and the comparison of two sets of result files.

Everything here is a pure function of the raw run record the JVM side
writes (see Main.scala), so it can be tested without Spark.
"""

import statistics

# ------------------------------------------------------------------ timings


def tail(values, beyond=10):
    """The highest percentile with at least `beyond` samples above it.

    Returns (value, percentile, samples), or None when there are too few
    samples for any such percentile. With n sorted samples, the value at
    1-based rank r has n - r samples beyond it, so r = n - beyond.
    """
    n = len(values)
    if n < beyond + 1:
        return None
    r = n - beyond
    return sorted(values)[r - 1], 100.0 * r / n, n


def median(values):
    return statistics.median(values) if values else None


def spread(values):
    """Distance between the first and third quartile, over the median."""
    if len(values) < 2:
        return 0.0
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else float("inf")


# ------------------------------------------------------------------- spans


def union_length(intervals):
    """Total length covered by a set of [start, end) intervals."""
    total, cur_s, cur_e = 0, None, None
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
    return max(interval[0], within[0]), min(interval[1], within[1])


def layer_of(name):
    return name.split(".", 1)[0]


def self_times(spans):
    """{span id: duration minus the part of it its children cover}.

    `spans` are dicts with id, parent, start and end.
    """
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        iv = (s["start"], s["end"])
        covered = union_length([clip((c["start"], c["end"]), iv)
                                for c in children.get(s["id"], [])])
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def subtree(spans, root_id):
    """Ids of `root_id` and every span below it."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s["id"])
    out, todo = [], [root_id]
    while todo:
        x = todo.pop()
        out.append(x)
        todo.extend(children.get(x, []))
    return out


def attribute_jobs(spans, jobs):
    """{span id: [job, ...]}: a job belongs to the span named by its job
    group; a job without one goes to the innermost span open when it
    started (None when no span was). Jobs carry `group`, `start`, `end` on
    the spans' clock.
    """
    by_id = {s["id"]: s for s in spans}
    out = {}
    for j in jobs:
        sid = None
        if j["group"].startswith("pb-") and int(j["group"][3:]) in by_id:
            sid = int(j["group"][3:])
        else:
            open_ = [s for s in spans if s["start"] <= j["start"] < s["end"]]
            if open_:
                sid = max(open_, key=lambda s: s["start"])["id"]
        out.setdefault(sid, []).append(j)
    return out


def op_accounting(spans, jobs_by_span, op_span_id):
    """For one op span: wall, the self time of every span inside it by
    name, the time its jobs cover and the driver gap (wall minus covered).
    """
    by_id = {s["id"]: s for s in spans}
    root = by_id[op_span_id]
    ids = subtree(spans, op_span_id)
    selfs = self_times([by_id[i] for i in ids])
    wall = root["end"] - root["start"]
    job_ivs = [clip((j["start"], j["end"]), (root["start"], root["end"]))
               for i in ids for j in jobs_by_span.get(i, [])]
    covered = union_length(job_ivs)
    by_name = {}
    for i in ids:
        by_name[by_id[i]["name"]] = by_name.get(by_id[i]["name"], 0) + selfs[i]
    return {"wall": wall, "self_by_name": by_name, "jobs_covered": covered,
            "driver_gap": wall - covered}


# ------------------------------------------------------------- comparison


def compare(base, head, bounds, directions, host_shift=0.0):
    """Per metric: base and head medians, the relative change (positive =
    worse), and a verdict against the metric's bound.

    `base` and `head` map metric -> list of values (one per run).
    `host_shift` is how far the host-contention sentinel moved, within
    either side's runs or between the sides, as a share: beyond a metric's
    bound, a change past the bound is "unresolved", not a "regression".
    """
    rows = []
    for m in sorted(set(base) & set(head)):
        b, h = base[m], head[m]
        mb, mh = median(b), median(h)
        sign = -1 if directions.get(m, "lower") == "higher" else 1
        worse = sign * (mh - mb) / abs(mb) if mb else 0.0
        bound = bounds.get(m)
        verdict = "ok"
        if bound is not None:
            if worse > bound:
                verdict = "unresolved" if host_shift > bound else "regression"
            elif spread(b) > bound and not all(sign * x < sign * y for x in h for y in b):
                verdict = "unresolved"
            elif -worse > max(spread(b), 0.0) and wins(b, h, sign) >= 0.9:
                verdict = "gain"
        rows.append({"metric": m, "base": mb, "head": mh, "worse_by": worse,
                     "bound": bound, "base_spread": spread(b), "verdict": verdict})
    return rows


def wins(base, head, sign):
    """Share of (base, head) pairs the head wins, ties counting for neither."""
    pairs = [(b, h) for b in base for h in head]
    if not pairs:
        return 0.0
    return sum(1 for b, h in pairs if sign * h < sign * b) / len(pairs)


def rank_changes(base, head):
    """Per-layer metrics ordered by the size of their relative change."""
    out = []
    for m in set(base) & set(head):
        mb, mh = median(base[m]), median(head[m])
        if mb in (None, 0) and mh in (None, 0):
            continue
        rel = (mh - mb) / abs(mb) if mb else float("inf")
        out.append((abs(rel), m, mb, mh, rel))
    return [dict(metric=m, base=mb, head=mh, change=rel)
            for _, m, mb, mh, rel in sorted(out, reverse=True)]
