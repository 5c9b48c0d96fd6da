"""Pure metric arithmetic for the graft benchmark: percentiles, span self
time, and the per-layer aggregation of a traced run. No I/O here, so the
benchmark's tests can drive it with synthetic data.
"""
import math
import statistics
from collections import defaultdict


def percentile(values, q):
    """The q-th percentile (0..100) of `values` by linear interpolation
    between closest ranks, with the sample count it rests on."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return {"value": None, "n": 0}
    pos = (n - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, n - 1)
    return {"value": xs[lo] + (xs[hi] - xs[lo]) * (pos - lo), "n": n}


def median(values):
    return statistics.median(values) if values else None


def fail_ratio(attempted, failed):
    """Queries that failed or gave wrong results over queries attempted."""
    if attempted <= 0:
        raise ValueError("nothing attempted")
    return failed / attempted


def self_times(spans):
    """Self time in ms of every span of one query, keyed by span id.

    Each span is clipped to its parent. At every instant the query's time
    goes to the spans that are active there and have no active child; when
    several such spans overlap (parallel stages, say) the instant is split
    evenly between them. So a parent's self time is its duration minus the
    part its children cover, and the self times of a query add up to at
    most its wall time.
    """
    by_id = {s["id"]: s for s in spans}
    box = {}

    def clipped(sid):
        if sid not in box:
            s = by_id[sid]
            a, b = s["start"], max(s["start"], s["end"])
            p = s.get("parent")
            if p in by_id:
                pa, pb = clipped(p)
                a, b = min(max(a, pa), pb), max(min(b, pb), pa)
            box[sid] = (a, b)
        return box[sid]

    starts, ends = defaultdict(list), defaultdict(list)
    for sid in by_id:
        a, b = clipped(sid)
        if b > a:
            starts[a].append(sid)
            ends[b].append(sid)
    # sweep the cut points, keeping the active spans and, per span, how
    # many of its children are active
    out = {sid: 0.0 for sid in by_id}
    active, busy = set(), defaultdict(int)
    cuts = sorted(set(starts) | set(ends))
    for t, nxt in zip(cuts, cuts[1:] + [None]):
        for sid, step, group in ([(s, -1, active.discard) for s in ends[t]]
                                 + [(s, 1, active.add) for s in starts[t]]):
            group(sid)
            busy[by_id[sid].get("parent")] += step
        if nxt is None:
            break
        leaves = [sid for sid in active if busy[sid] == 0]
        for sid in leaves:
            out[sid] += (nxt - t) / len(leaves)
    return out


def union_ms(intervals, lo, hi):
    """Length of the union of intervals, clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


# Which layer a span's self time is charged to when a query is classified.
def _bucket(span, parents):
    if span["name"] == "stage":
        return "compute"
    if span["name"] == "build" or (span["name"].startswith("plan.")
                                   and parents.get(span["parent"]) == "build"):
        return "build"
    return "launch"


def query_layers(spans):
    """Per-layer numbers of one traced query from its spans (one query id)."""
    root = next(s for s in spans if s["parent"] is None)
    wall = root["end"] - root["start"]
    names = {s["id"]: s["name"] for s in spans}
    selfs = self_times(spans)
    stages = [s for s in spans if s["name"] == "stage"]
    jobs = [s for s in spans if s["name"] == "job"]
    build = next(s for s in spans if s["name"] == "build")
    release = next(s for s in spans if s["name"] == "release")

    def stage_sum(key):
        return sum(s["metrics"].get(key, 0) for s in stages if s.get("metrics"))

    def phase_ms(phase):
        return sum(s["end"] - s["start"] for s in spans if s["name"] == "plan." + phase)

    buckets = defaultdict(float)
    for s in spans:
        buckets[_bucket(s, names)] += selfs[s["id"]]
    return {
        "name": root["query"],
        "wall_ms": wall,
        "self_sum_ms": sum(selfs.values()),
        "graft.release_ms": release["end"] - release["start"],
        "graft.persisted_rdds": root.get("persisted_rdds", 0),
        "operators.build_ms": build["end"] - build["start"],
        "operators.build_jobs": sum(1 for j in jobs if j["parent"] == build["id"]),
        "plans.analysis_ms": phase_ms("analysis"),
        "plans.optimization_ms": phase_ms("optimization"),
        "plans.planning_ms": phase_ms("planning"),
        "plans.graft_nodes": root.get("graft_nodes", 0),
        "exec.jobs": len(jobs),
        "exec.stages": len(stages),
        "exec.tasks": sum(s.get("tasks", 0) for s in stages),
        "exec.sched_gap_ms": wall - union_ms([(s["start"], s["end"]) for s in stages],
                                             root["start"], root["end"]),
        "exec.queue_wait_ms": sum(s.get("queue_wait_ms", 0) for s in stages),
        "exec.run_ms": stage_sum("run_ms"),
        "exec.cpu_ms": stage_sum("cpu_ms"),
        "exec.gc_ms": stage_sum("gc_ms"),
        "shuffle.write_bytes": stage_sum("shuffle_write_bytes"),
        "shuffle.read_bytes": stage_sum("shuffle_read_bytes"),
        "shuffle.fetch_wait_ms": stage_sum("shuffle_fetch_wait_ms"),
        "shuffle.spill_bytes": stage_sum("spill_bytes"),
        "sources.read_bytes": stage_sum("input_bytes"),
        "sources.read_records": stage_sum("input_records"),
        "sources.write_bytes": stage_sum("output_bytes"),
        "cache.stored_mb": root.get("stored_bytes", 0) / 2**20,
        "self.build_ms": buckets["build"],
        "self.launch_ms": buckets["launch"],
        "self.compute_ms": buckets["compute"],
    }


def classify(layers):
    """build-, launch- or compute-bound: the bucket holding most self time."""
    return max(("build", "launch", "compute"),
               key=lambda k: layers["self.%s_ms" % k]) + "_bound"


# Per-query layer numbers averaged per executed query.
MEAN_KEYS = [
    "graft.release_ms", "graft.persisted_rdds", "operators.build_ms",
    "operators.build_jobs", "plans.analysis_ms", "plans.optimization_ms",
    "plans.planning_ms", "plans.graft_nodes", "exec.jobs", "exec.stages",
    "exec.tasks", "exec.sched_gap_ms", "exec.queue_wait_ms", "exec.run_ms",
    "exec.cpu_ms", "exec.gc_ms", "shuffle.write_bytes", "shuffle.read_bytes",
    "shuffle.fetch_wait_ms", "shuffle.spill_bytes", "sources.read_bytes",
    "sources.write_bytes", "cache.stored_mb",
]


def aggregate_layers(per_query, result_rows):
    """Fold per-query layer numbers (dicts from query_layers) into the
    run's per-layer metrics. `result_rows` maps query name to the row count
    of its checked result."""
    n = len(per_query)
    out = {k: sum(q[k] for q in per_query) / n for k in MEAN_KEYS}
    wall = sum(q["wall_ms"] for q in per_query)
    out["operators.build_share"] = sum(q["operators.build_ms"] for q in per_query) / wall
    rows = sum(result_rows.get(q["name"], 0) for q in per_query)
    out["sources.rows_per_result"] = (
        sum(q["sources.read_records"] for q in per_query) / rows if rows else 0.0)
    # classify each query name on its self time summed over its executions
    by_name = defaultdict(lambda: defaultdict(float))
    for q in per_query:
        for k in ("self.build_ms", "self.launch_ms", "self.compute_ms"):
            by_name[q["name"]][k] += q[k]
    kinds = {name: classify(v) for name, v in by_name.items()}
    for kind in ("build_bound", "launch_bound", "compute_bound"):
        out["trace." + kind] = sum(1 for k in kinds.values() if k == kind)
    return out, kinds
