"""Self-tests of the benchmark's pure logic.

    python3 -m unittest discover -s perfbench/tests

The fingerprint's invariance under row and partition order is tested on
the JVM side: (cd perfbench && sbt test)."""

import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
import lib  # noqa: E402

with open(os.path.join(os.path.dirname(HERE), "workloads.json")) as f:
    CONFIG = json.load(f)


class OrderTest(unittest.TestCase):
    def test_same_seed_same_order(self):
        for w, spec in CONFIG["workloads"].items():
            self.assertEqual(lib.passes(w, spec, 7, 8), lib.passes(w, spec, 7, 8), w)

    def test_other_seed_other_order(self):
        for w, spec in CONFIG["workloads"].items():
            self.assertNotEqual(lib.passes(w, spec, 1, 8), lib.passes(w, spec, 2, 8), w)

    def test_every_pass_is_the_whole_mix_once(self):
        for w, spec in CONFIG["workloads"].items():
            mix = sorted(lib.mix(spec))
            self.assertEqual(len(mix), len(set(mix)), w)
            for seed in range(1, 4):
                ps = lib.passes(w, spec, seed, 8)
                for p in ps:
                    self.assertEqual(sorted(p), mix, w)
                # passes are reshuffled, not one order repeated
                self.assertGreater(len({tuple(p) for p in ps}), 1, w)

    def test_pass_count_follows_seconds_not_host_speed(self):
        spec = {"pass_s": 7.0}
        self.assertEqual(lib.pass_count(spec, 1), 1)
        self.assertEqual(lib.pass_count(spec, 16), 2)
        self.assertEqual(lib.pass_count(spec, 30), 4)

    def test_mix_holds_registry_queries_only(self):
        known = {q for qs in CONFIG["families"].values() for q in qs}
        for w, spec in CONFIG["workloads"].items():
            for stratum, qs in spec["strata"].items():
                self.assertTrue(set(qs) <= set(CONFIG["families"][stratum]), (w, stratum))
            self.assertTrue(set(lib.mix(spec)) <= known, w)


class P90Test(unittest.TestCase):
    def test_refuses_with_fewer_than_ten_beyond(self):
        self.assertIsNone(lib.p90([float(i) for i in range(99)]))
        self.assertIsNone(lib.p90([1.0] * 50))

    def test_reports_with_ten_beyond(self):
        xs = [float(i) for i in range(100)]
        v = lib.p90(xs)
        self.assertEqual(v, 89.0)
        self.assertEqual(sum(1 for x in xs if x > v), 10)


class SpanTest(unittest.TestCase):
    def test_self_time_subtracts_union_of_children(self):
        span = {"start": 0.0, "end": 100.0}
        kids = [{"start": 10.0, "end": 30.0}, {"start": 20.0, "end": 40.0},
                {"start": 90.0, "end": 120.0}]
        # children cover [10, 40] and [90, 100] inside the span
        self.assertAlmostEqual(lib.self_time(span, kids), 60.0)
        self.assertAlmostEqual(lib.self_time(span, []), 100.0)

    def test_span_tree_and_self_times(self):
        ops = [{"name": "q1_a", "pos": 0, "start": 0.0, "build_end": 400.0, "end": 1000.0}]
        jobs = [{"id": 0, "start": 100.0, "end": 300.0}, {"id": 1, "start": 500.0, "end": 900.0}]
        sp = lib.spans(ops, jobs, lib.attribute(jobs, ops))
        parents = {s["id"]: s["parent"] for s in sp}
        self.assertEqual(parents["job0"], "op0.build")
        self.assertEqual(parents["job1"], "op0.action")
        self.assertEqual({s["op"] for s in sp}, {"op0"})
        st = lib.self_times(sp)
        self.assertAlmostEqual(st["op"], 0.0)
        self.assertAlmostEqual(st["build"], 0.2)
        self.assertAlmostEqual(st["action"], 0.2)
        self.assertAlmostEqual(st["job"], 0.6)

    def test_jobs_attributed_by_interval(self):
        ops = [{"start": 0.0, "end": 10.0}, {"start": 12.0, "end": 20.0}]
        ev = [{"start": 5.0}, {"start": 11.0}, {"start": 12.0}, {"start": 25.0}]
        self.assertEqual(lib.attribute(ev, ops), [0, None, 1, None])


class EndToEndTest(unittest.TestCase):
    def op(self, name, start, end, ok=True, fp="1:ab"):
        return {"name": name, "start": start, "build_end": start, "end": end, "ok": ok,
                "fingerprint": fp if ok else None}

    def test_verdict_needs_a_run_and_the_golden_fingerprint(self):
        golden = {"q1": "1:ab", "q2": "1:ab", "q3": "1:ab"}
        warm = [self.op("q1", 0, 1), self.op("q2", 1, 2, ok=False), self.op("q3", 2, 3, fp="2:cd"),
                self.op("q4", 3, 4)]
        self.assertEqual(lib.verdicts(warm, golden),
                         {"q1": True, "q2": False, "q3": False, "q4": False})

    def test_failed_ops_excluded_from_latency_and_throughput(self):
        verdict = {"q1": True, "q2": True, "q3": False}
        timed = [self.op("q1", 0, 1000), self.op("q2", 1000, 5000, ok=False),
                 self.op("q3", 5000, 8000), self.op("q1", 8000, 10000)]
        r = lib.end_to_end(timed, verdict)
        self.assertEqual(r["attempted"], 4)
        self.assertEqual(r["failed"], 2)
        self.assertAlmostEqual(r["error_rate"], 0.5)
        self.assertEqual(r["latency_samples"], 2)
        self.assertAlmostEqual(r["latency_p50_s"], 1.5)
        # two good ops over the ten seconds of timed wall time
        self.assertAlmostEqual(r["ops_per_s"], 0.2)


class LayersTest(unittest.TestCase):
    def test_driver_gap_is_wall_minus_job_union(self):
        op = {"start": 0.0, "build_end": 200.0, "end": 1000.0, "gc_ms": 5}
        jobs = [{"start": 100.0, "end": 400.0, "stages": 2, "tasks": 8, "failed_tasks": 0,
                 "task_run_ms": 900, "task_cpu_ns": 8e8, "task_gc_ms": 3,
                 "shuffle_read_bytes": 0, "shuffle_write_bytes": lib.MB, "spill_bytes": 0,
                 "input_bytes": 2 * lib.MB, "output_bytes": 0, "output_rows": 0},
                {"start": 300.0, "end": 600.0, "stages": 1, "tasks": 4, "failed_tasks": 1,
                 "task_run_ms": 100, "task_cpu_ns": 1e8, "task_gc_ms": 0,
                 "shuffle_read_bytes": lib.MB, "shuffle_write_bytes": 0, "spill_bytes": 0,
                 "input_bytes": 0, "output_bytes": 0, "output_rows": 0}]
        r = lib.op_layers(op, jobs, [])
        self.assertAlmostEqual(r["spark.job_busy_s"], 0.5)
        self.assertAlmostEqual(r["spark.driver_gap_s"], 0.5)
        self.assertEqual(r["spark.jobs"], 2)
        self.assertEqual(r["spark.failed_tasks"], 1)
        self.assertAlmostEqual(r["spark.task_run_s"], 1.0)
        self.assertAlmostEqual(r["io.input_mb"], 2.0)
        self.assertAlmostEqual(r["queries.build_s"] + r["queries.action_s"], 1.0)


if __name__ == "__main__":
    unittest.main()
