"""Pure functions of the graft benchmark: run order, statistics,
span arithmetic and the per-op / per-layer aggregation. run.py does the
I/O around them; tests/test_lib.py checks them."""

import math
import random
import statistics

def mix(spec):
    """The workload's op mix: every query of every stratum, in stratum order."""
    return [q for stratum in sorted(spec["strata"]) for q in spec["strata"][stratum]]


def pass_count(spec, seconds):
    """How many timed passes a run of `seconds` makes: the workload's
    nominal pass time (`pass_s`, measured once on 4 cores) divides it, at
    least one. It does not depend on how fast the host is at the time, so
    every run of a workload and length times the same ops in the same
    positions of the JVM's warm-up."""
    return max(1, round(seconds / spec["pass_s"]))


def passes(workload, spec, seed, count):
    """The seeded run order: `count` passes over the mix, each pass a fresh
    permutation drawn from the seed. The mix, and so the number of ops per
    stratum, is the same for every seed; the seed decides the order."""
    rng = random.Random(f"{workload}/{seed}")
    ops = mix(spec)
    return [rng.sample(ops, len(ops)) for _ in range(count)]


def stratum_of(spec):
    """query name -> stratum (family) name."""
    return {q: stratum for stratum, qs in spec["strata"].items() for q in qs}


def p90(values, min_beyond=10):
    """Nearest-rank 90th percentile, or None when fewer than `min_beyond`
    samples lie beyond it (the sample cannot support a p90)."""
    s = sorted(values)
    if not s:
        return None
    rank = math.ceil(0.9 * len(s))
    if len(s) - rank < min_beyond:
        return None
    return s[rank - 1]


def union_length(intervals, lo=None, hi=None):
    """Length of the union of [start, end] intervals, clipped to [lo, hi]."""
    clipped = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            clipped.append((a, b))
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(clipped):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(span, children):
    """A span's duration minus the part of it its children cover."""
    return (span["end"] - span["start"]) - union_length(
        [(c["start"], c["end"]) for c in children], span["start"], span["end"])


def attribute(events, ops, key="start"):
    """Index of the op whose [start, end] holds each event's `key` time,
    or None. Ops are the run's records in time order (they never overlap:
    one client thread)."""
    out = []
    for e in events:
        t = e[key]
        hit = None
        for i, op in enumerate(ops):
            if op["start"] <= t <= op["end"]:
                hit = i
                break
        out.append(hit)
    return out


def verdicts(warmup, golden):
    """query name -> True when its warm-up ran and its output's fingerprint
    matches the golden one. Timed executions are not fingerprinted; each
    inherits the verdict on its query's output."""
    return {op["name"]: bool(op["ok"]) and golden.get(op["name"]) == op["fingerprint"]
            for op in warmup}


def end_to_end(timed, verdict):
    """End-to-end figures of a run's timed ops. A failed op (it threw, or
    its query's output differs from the golden fingerprint) counts in
    error_rate and is left out of the latency and throughput samples; the
    timed wall time still includes it."""
    good = [op for op in timed if op["ok"] and verdict.get(op["name"], False)]
    lat = [(op["end"] - op["start"]) / 1000.0 for op in good]
    wall = sum(op["end"] - op["start"] for op in timed) / 1000.0
    return {
        "attempted": len(timed),
        "failed": len(timed) - len(good),
        "error_rate": (len(timed) - len(good)) / len(timed) if timed else None,
        "ops_per_s": len(good) / wall if wall > 0 else None,
        "latency_p50_s": statistics.median(lat) if lat else None,
        "latency_p90_s": p90(lat),
        "latency_samples": len(lat),
        "timed_wall_s": wall,
    }


MB = 1048576.0

# per-layer metric -> (field of a job record, scale) summed over an op's jobs
JOB_SUMS = {
    "spark.jobs": (None, 1),
    "spark.stages": ("stages", 1),
    "spark.tasks": ("tasks", 1),
    "spark.failed_tasks": ("failed_tasks", 1),
    "spark.task_run_s": ("task_run_ms", 1e-3),
    "spark.task_cpu_s": ("task_cpu_ns", 1e-9),
    "spark.task_gc_s": ("task_gc_ms", 1e-3),
    "spark.shuffle_read_mb": ("shuffle_read_bytes", 1 / MB),
    "spark.shuffle_write_mb": ("shuffle_write_bytes", 1 / MB),
    "spark.spill_mb": ("spill_bytes", 1 / MB),
    "io.input_mb": ("input_bytes", 1 / MB),
    "io.output_mb": ("output_bytes", 1 / MB),
    "io.output_rows": ("output_rows", 1),
}

# per-layer metric -> (field of a plan record, scale) summed over an op's plans
PLAN_SUMS = {
    "catalyst.analysis_s": ("analysis_ms", 1e-3),
    "catalyst.optimization_s": ("optimization_ms", 1e-3),
    "catalyst.planning_s": ("planning_ms", 1e-3),
    "catalyst.plan_nodes": ("nodes", 1),
}


def op_layers(op, jobs, plans):
    """Per-layer figures of one op from the jobs and plans attributed to it.
    Times are seconds; the op's interval is [start, end] in epoch ms."""
    wall = (op["end"] - op["start"]) / 1000.0
    busy = union_length([(j["start"], j["end"] if j["end"] >= 0 else op["end"]) for j in jobs],
                        op["start"], op["end"]) / 1000.0
    out = {
        "wall_s": wall,
        "queries.build_s": (op["build_end"] - op["start"]) / 1000.0,
        "queries.action_s": (op["end"] - op["build_end"]) / 1000.0,
        "spark.job_busy_s": busy,
        "spark.driver_gap_s": wall - busy,
        "jvm.gc_s": op["gc_ms"] / 1000.0,
    }
    for m, (field, scale) in JOB_SUMS.items():
        out[m] = len(jobs) if field is None else sum(j[field] for j in jobs) * scale
    for m, (field, scale) in PLAN_SUMS.items():
        out[m] = sum(p[field] for p in plans) * scale
    return out


def spans(ops, jobs, job_op):
    """The traced run's spans: op -> build, action -> job. Spans of one op
    share its id; a job's parent is the build or action span holding its
    start."""
    out = []
    for i, op in enumerate(ops):
        oid = f"op{i}"
        out.append({"id": oid, "parent": None, "op": oid, "name": "op", "query": op["name"],
                    "pos": op["pos"], "start": op["start"], "end": op["end"]})
        out.append({"id": oid + ".build", "parent": oid, "op": oid, "name": "build",
                    "start": op["start"], "end": op["build_end"]})
        out.append({"id": oid + ".action", "parent": oid, "op": oid, "name": "action",
                    "start": op["build_end"], "end": op["end"]})
    for j, i in zip(jobs, job_op):
        if i is None:
            continue
        op = ops[i]
        oid = f"op{i}"
        parent = oid + (".build" if j["start"] < op["build_end"] else ".action")
        out.append({"id": f"job{j['id']}", "parent": parent, "op": oid, "name": "job",
                    "start": j["start"], "end": j["end"] if j["end"] >= 0 else op["end"]})
    return out


def self_times(span_list):
    """Summed self time (seconds) per span name."""
    kids = {}
    for s in span_list:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in span_list:
        out[s["name"]] = out.get(s["name"], 0.0) + self_time(s, kids.get(s["id"], [])) / 1000.0
    return out

