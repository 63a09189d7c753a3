#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload reports --seed 1 --seconds 16 --trace 0

Builds the engine and the harness from source when they changed (sbt,
offline), draws the seeded order of the workload's query mix (as many
whole passes as the workload's nominal pass time fits into --seconds), runs it
through perfbench.Harness in one local[nproc] SparkSession, checks every
query's output against its golden fingerprint and prints every metric with
its unit.
The last stdout line is one JSON object: correct, attempted, failed and
the end-to-end metrics (--trace 0) or the per-layer metrics (--trace 1).
A full record of the run lands in perfbench/.work/results/. See README.md.
"""

import time

T0 = time.time()  # setup_s counts from here

import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)
import lib  # noqa: E402

with open(os.path.join(HERE, "workloads.json")) as f:
    CONFIG = json.load(f)
WORKLOADS = CONFIG["workloads"]
END_TO_END = ["setup_s", "ops_per_s", "latency_p50_s", "retained_heap_mb"]
UNITS = {"setup_s": "s", "ops_per_s": "1/s", "latency_p50_s": "s", "latency_p90_s": "s",
         "error_rate": "ratio", "retained_heap_mb": "MB"}
PER_LAYER_UNITS = {
    "catalyst.analysis_s": "s", "catalyst.optimization_s": "s", "catalyst.planning_s": "s",
    "catalyst.plan_nodes": "count", "codegen.compiled_classes": "count",
    "queries.build_s": "s", "queries.action_s": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.job_busy_s": "s", "spark.driver_gap_s": "s", "spark.task_run_s": "s",
    "spark.task_cpu_s": "s", "spark.shuffle_read_mb": "MB", "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB", "io.input_mb": "MB", "io.output_mb": "MB", "io.output_rows": "count",
    "spark.task_gc_s": "s", "jvm.gc_s": "s", "spark.failed_tasks": "count",
}
HEAP = "4g"
# C1 only: a run's fresh JVM never reaches C2's steady state within its
# minute, and under tiered compilation the lake workload's ops_per_s spread
# 15% across seeds (3.7% with C1 only, 4 cores).
JIT = "-XX:TieredStopAtLevel=1"
JAVA_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(2)


def tree_digest(patterns):
    """sha256 over the named files' paths and contents."""
    h = hashlib.sha256()
    for pat in patterns:
        for p in sorted(glob.glob(os.path.join(ROOT, pat), recursive=True)):
            if os.path.isfile(p):
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()


SOURCES = ["build.sbt", "project/*.properties", "project/*.sbt", "src/main/**/*",
           "perfbench/build.sbt", "perfbench/project/*.properties", "perfbench/src/main/**/*"]


def build():
    """Compile engine + harness when their sources changed; returns
    (classpath, seconds spent building, source digest)."""
    digest = tree_digest(SOURCES)
    stamp = os.path.join(WORK, "build.json")
    if os.path.exists(stamp):
        with open(stamp) as f:
            b = json.load(f)
        if b["digest"] == digest:
            return b["classpath"], 0.0, digest
    if shutil.which("sbt") is None:
        fail("sbt not found")
    log("building engine and harness (sbt compile)")
    t = time.time()
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                   " -Dsbt.offline=true -Xmx2g")
    r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"], cwd=HERE, env=env,
                       stdin=subprocess.DEVNULL, capture_output=True, text=True)
    lines = [l for l in r.stdout.splitlines() if ".jar" in l and not l.startswith("[")]
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        fail("build failed")
    classpath = lines[-1].strip()
    os.makedirs(WORK, exist_ok=True)
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": classpath}, f)
    return classpath, time.time() - t, digest


def java(classpath, args, tmp, timeout=None):
    """Run one JVM main in its own scratch directory (removed afterwards);
    exit the benchmark when it fails or outlives `timeout` seconds."""
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xmx{HEAP}", JIT, *JAVA_OPENS, f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={tmp}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC",
           f"-Dspark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')}",
           "-cp", classpath, *args]
    env = dict(os.environ, PERFBENCH_NPROC=str(nproc()))
    try:
        r = subprocess.run(cmd, cwd=tmp, env=env, stdin=subprocess.DEVNULL, timeout=timeout,
                           stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    except subprocess.TimeoutExpired:
        fail(f"{args[0]} {args[1] if len(args) > 1 else ''} did not finish in {timeout} s")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    if r.returncode != 0:
        sys.stderr.write(r.stderr[-6000:])
        fail(f"{args[0]} {args[1] if len(args) > 1 else ''} exited {r.returncode}")
    return r


def nproc():
    """Cores this process may run on (what `nproc` prints)."""
    return len(os.sched_getaffinity(0))


def git_revision():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, stdin=subprocess.DEVNULL)
        return r.stdout.strip() if r.returncode == 0 else None
    except OSError:
        return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.exists(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        fail("engine sources not found next to perfbench/ (run from a full checkout)")
    spec = WORKLOADS[a.workload]
    with open(os.path.join(HERE, "golden.json")) as f:
        golden = json.load(f)[spec["data"]]
    if shutil.which("java") is None:
        fail("java not found")

    classpath, build_s, digest = build()
    data = os.path.join(HERE, "data", spec["data"])
    order = lib.passes(a.workload, spec, a.seed, lib.pass_count(spec, a.seconds))
    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    raw_path = os.path.join(WORK, "raw", f"{tag}.json")
    java(classpath, ["perfbench.Harness", "run", raw_path, data, str(a.trace),
                     ";".join(",".join(p) for p in order)],
         os.path.join(WORK, f"tmp-{os.getpid()}"), timeout=170)
    with open(raw_path) as f:
        raw = json.load(f)

    timed = [op for op in raw["ops"] if op["phase"] == "timed"]
    warm = [op for op in raw["ops"] if op["phase"] == "warmup"]
    verdict = lib.verdicts(warm, golden)
    e2e = lib.end_to_end(timed, verdict)
    e2e["setup_s"] = (raw["first_timed"] / 1000.0 - T0) - build_s
    e2e["retained_heap_mb"] = raw["retained_heap_mb"]
    bad = [op for op in raw["ops"] if not op["ok"] or not verdict.get(op["name"], False)]
    correct = not bad and e2e["attempted"] > 0

    result = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "mix": lib.mix(spec), "passes_run": raw["passes"], "order": order[:raw["passes"]],
        "data": spec["data"], "nproc": raw["nproc"], "heap_max_mb": raw["heap_max_mb"],
        "spark_version": raw["spark_version"], "git_revision": git_revision(),
        "source_digest": digest, "build_s": build_s,
        "spark_conf": {c["key"]: c["value"] for c in raw["conf"]},
        "end_to_end": e2e, "correct": correct,
        "failures": [{"name": op["name"], "phase": op["phase"],
                      "error": op.get("error") or "fingerprint differs from golden",
                      "fingerprint": op.get("fingerprint")} for op in bad],
        "op_latency_s": [{"name": op["name"], "phase": op["phase"], "pass": op["pass"],
                          "s": (op["end"] - op["start"]) / 1000.0}
                         for op in raw["ops"]],
        "codegen": {"compiled_setup": raw["compiled_setup"], "compiled_timed": raw["compiled_timed"]},
        "warmup_s": sum(op["end"] - op["start"] for op in warm) / 1000.0,
        "timed_window_s": (raw["timed_end"] - raw["first_timed"]) / 1000.0,
    }
    metrics = {}
    if a.trace:
        result["layers"] = layers(raw, timed, spec, tag)
        per_op = dict(result["layers"]["per_op"],
                      **{"codegen.compiled_classes": raw["compiled_setup"] + raw["compiled_timed"]})
        metrics = {m: per_op[m] for m in PER_LAYER_UNITS}
        untraced = os.path.join(WORK, "results", f"{a.workload}-s{a.seed}-t0.json")
        if os.path.exists(untraced):
            with open(untraced) as f:
                base = json.load(f)["end_to_end"]["ops_per_s"]
            result["tracing_overhead"] = {
                "traced_ops_per_s": e2e["ops_per_s"], "untraced_ops_per_s": base,
                "ratio": e2e["ops_per_s"] / base if base else None}
        units = PER_LAYER_UNITS
    else:
        metrics = {m: e2e[m] for m in END_TO_END}
        units = UNITS

    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(os.path.join(WORK, "results", tag + ".json"), "w") as f:
        json.dump(result, f, indent=1, sort_keys=True)

    for op in bad:
        log(f"FAILED {op['name']} ({op['phase']}): {op.get('error') or 'fingerprint differs'}")
    log(f"{a.workload} seed {a.seed}: {len(order[0])} queries in the mix, "
        f"{raw['passes']} passes, {e2e['attempted']} timed ops, build {build_s:.1f} s")
    shown = dict(metrics)
    if not a.trace:
        shown["error_rate"] = e2e["error_rate"]
        shown["latency_p90_s"] = e2e["latency_p90_s"]
    for m, v in shown.items():
        n = f" (n={e2e['latency_samples']})" if m.startswith("latency") else ""
        txt = "not reported: fewer than 10 samples beyond it" if v is None else f"{v:.6g}"
        print(f"{m} = {txt} {units.get(m, '')}{n}")
    if a.trace and "tracing_overhead" in result:
        print(f"tracing overhead: traced/untraced ops_per_s = {result['tracing_overhead']['ratio']:.4f}")
    print(json.dumps({"correct": correct, "attempted": e2e["attempted"], "failed": e2e["failed"],
                      "metrics": {m: {"value": v, "unit": units[m]} for m, v in metrics.items()}}))


def layers(raw, timed, spec, tag):
    """Per-layer figures of a traced run: per timed op, then means per op,
    sums and shares of op wall per stratum, and span self times."""
    job_op = lib.attribute(raw["jobs"], timed)
    plan_op = lib.attribute(raw["plans"], timed)
    per = []
    for i, op in enumerate(timed):
        js = [j for j, k in zip(raw["jobs"], job_op) if k == i]
        ps = [p for p, k in zip(raw["plans"], plan_op) if k == i]
        per.append(lib.op_layers(op, js, ps))
    keys = [k for k in per[0] if k != "wall_s"]
    strata = lib.stratum_of(spec)
    by = {}
    for op, row in zip(timed, per):
        for s in ("all", strata.get(op["name"], "other")):
            acc = by.setdefault(s, {"ops": 0, "wall_s": 0.0, **{k: 0.0 for k in keys}})
            acc["ops"] += 1
            acc["wall_s"] += row["wall_s"]
            for k in keys:
                acc[k] += row[k]
    for acc in by.values():
        acc["share_of_wall"] = {k: acc[k] / acc["wall_s"] for k in keys
                                if k.endswith("_s") and acc["wall_s"] > 0}
    sp = lib.spans(timed, raw["jobs"], job_op)
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(os.path.join(WORK, "results", tag + ".spans.json"), "w") as f:
        json.dump(sp, f)
    window = (raw["timed_end"] - raw["first_timed"]) / 1000.0
    build_s = by["all"]["queries.build_s"]
    action_s = by["all"]["queries.action_s"]
    return {
        "per_op": {k: by["all"][k] / by["all"]["ops"] for k in keys},
        "strata": by,
        "self_time_s": lib.self_times(sp),
        "jobs_outside_timed_ops": sum(1 for k in job_op if k is None),
        "accounting": {"timed_window_s": window, "build_s": build_s, "action_s": action_s,
                       "harness_s": window - build_s - action_s},
    }


if __name__ == "__main__":
    main()
