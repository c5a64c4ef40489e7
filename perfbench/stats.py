"""Metric arithmetic of the benchmark: percentiles, span self times, and the
end-to-end and per-layer metric sets of one run."""
import math
import re

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")

# Spans are attributed to layers by name; a job span is `job.<id>`.
LAYERS = {"op": "op", "engine.run": "engine", "query.build": "build",
          "catalyst.exec_plan": "catalyst", "catalyst.analysis": "catalyst",
          "catalyst.optimization": "catalyst", "catalyst.planning": "catalyst",
          "action": "action"}

# A traced operation's span self times must add up to its wall time within
# this share of the wall (or SELF_TIME_TOL_MS, whichever is larger). Listener
# times have millisecond resolution, so a child can poke out of its parent by
# a millisecond; that excess is clipped and counted against the tolerance.
SELF_TIME_TOL = 0.01
SELF_TIME_TOL_MS = 2.0


def median(xs):
    xs = sorted(xs)
    n = len(xs)
    if n == 0:
        return 0.0
    return xs[n // 2] if n % 2 else (xs[n // 2 - 1] + xs[n // 2]) / 2


def percentile(xs, p):
    """Nearest-rank percentile `p` (0-100) of `xs`, and how many samples lie
    strictly beyond it. Reported only when at least 10 samples lie beyond,
    which needs >= 100 samples for p90; otherwise returns (None, beyond)."""
    xs = sorted(xs)
    if not xs:
        return None, 0
    rank = max(1, math.ceil(p / 100 * len(xs)))
    value = xs[rank - 1]
    beyond = len(xs) - rank
    return (value if beyond >= 10 else None), beyond


def layer_of(name):
    if name == "job" or name.startswith("job."):
        return "exec"
    return LAYERS.get(name, name.split(".")[0])


def attach_jobs(spans):
    """Re-parents each job span to the operation phase it started in (the
    query build, the planning, or the action): a query builder may run jobs
    of its own before the action does."""
    phases = [(n, a, b) for n, p, a, b in spans if p == "op"]
    out = []
    for name, parent, a, b in spans:
        if layer_of(name) == "exec":
            parent = next((n for n, pa, pb in phases if pa <= a < pb), parent)
        out.append((name, parent, a, b))
    return out


def _union_len(intervals):
    total, end = 0.0, -math.inf
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def self_times(spans):
    """Self time per layer for the spans of ONE operation.

    `spans` is a list of (name, parent_name, t0, t1). Sibling job spans
    that overlap (concurrent jobs) are first merged, so concurrent work
    counts once. Every span is clipped to its parent, and a span's self
    time is its duration less its children's. Returns ({layer: seconds},
    clipped_seconds): `clipped` is child time that fell outside its parent
    and was cut.
    """
    merged, jobs = [], {}
    for name, parent, a, b in spans:
        if layer_of(name) == "exec":
            jobs.setdefault(parent, []).append((a, b))
        else:
            merged.append((name, parent, a, b))
    for parent, ivs in jobs.items():
        end = -math.inf
        for a, b in sorted(ivs):
            if a > end:
                merged.append(["job", parent, a, b])
            else:
                merged[-1][3] = max(merged[-1][3], b)
            end = max(end, b)
    # clip every span to its parent, parents first; what is cut is `clipped`
    bounds = {name: (a, b) for name, parent, a, b in merged if parent == ""}
    clipped, spans, todo = 0.0, [], [s for s in merged if s[1] != ""]
    while todo:
        ready = [s for s in todo if s[1] in bounds]
        if not ready:  # orphans: their parent is not among the spans
            break
        for name, parent, a, b in ready:
            pa, pb = bounds[parent]
            ca, cb = max(a, pa), min(b, pb)
            cb = max(ca, cb)
            clipped += (b - a) - (cb - ca)
            spans.append((name, parent, ca, cb))
            if name != "job":
                bounds[name] = (ca, cb)
        todo = [s for s in todo if s not in ready]
    spans += [(n, p, a, b) for n, p, a, b in merged if p == ""]
    out = {}
    for name, parent, a, b in spans:
        kids = [(ka, kb) for kn, kp, ka, kb in spans if kp == name and kn != name]
        layer = layer_of(name)
        out[layer] = out.get(layer, 0.0) + (b - a) - _union_len(kids)
    return out, clipped


def accounted(spans, wall):
    """True when an operation's spans account for its wall time: their self
    times sum to the wall, and the child time cut off at parent boundaries
    stays within the stated tolerance."""
    st, clipped = self_times(spans)
    tol = max(SELF_TIME_TOL * wall, SELF_TIME_TOL_MS / 1e3)
    return abs(sum(st.values()) - wall) <= tol and clipped <= tol
