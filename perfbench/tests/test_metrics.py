"""Tests of the benchmark's own arithmetic; no Spark needed.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import statistics
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import check  # noqa: E402
import metrics  # noqa: E402


def op(seq, name, wall, start=0.0, build=None, pass_=1, **extra):
    build_end = start + (build if build is not None else wall / 2) * 1000
    rec = {"seq": seq, "name": name, "pass": pass_, "start_ms": start,
           "build_end_ms": build_end, "end_ms": start + wall * 1000, "wall_s": wall,
           "build_s": (build_end - start) / 1000, "action_s": wall - (build_end - start) / 1000,
           "cpu_s": 2 * wall, "gc_s": 0.01, "jit_s": 0.1, "codegen_compiles": 3,
           "rows": 10, "hash": "7"}
    rec.update(extra)
    return rec


def stage(op_seq, job, sid, task_reads=(), **extra):
    rec = {"op": op_seq, "job": job, "stage": sid, "attempt": 0, "submit_ms": 0,
           "end_ms": 0, "num_tasks": 4, "ok": True, "tasks": 4, "run_ms": 1000,
           "cpu_ns": 5e8, "deser_ms": 10, "gc_ms": 20, "sched_delay_ms": 4,
           "peak_mem_bytes": 2 * metrics.MIB, "shuffle_write_bytes": metrics.MIB,
           "shuffle_write_records": 100, "shuffle_write_ns": 1e7,
           "shuffle_read_bytes": metrics.MIB, "shuffle_read_records": 100,
           "fetch_wait_ms": 3, "input_records": 1000,
           "spill_bytes": 0, "task_read_bytes": list(task_reads)}
    rec.update(extra)
    return rec


class P90Rule(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        self.assertIsNone(metrics.p90(range(99)))
        value = metrics.p90(range(100))
        self.assertIsNotNone(value)
        self.assertGreaterEqual(sum(1 for x in range(100) if x > value), 10)

    def test_matches_quantiles(self):
        xs = [((i * 37) % 101) / 7.0 for i in range(150)]
        self.assertAlmostEqual(metrics.p90(xs),
                               statistics.quantiles(sorted(xs), n=10, method="inclusive")[-1])


    def test_tail_leaves_ten_samples_beyond(self):
        self.assertIsNone(metrics.tail(range(10)))
        for n in (11, 30, 57, 200):
            p, value = metrics.tail(range(n))
            self.assertGreaterEqual(sum(1 for x in range(n) if x > value), 10)
            self.assertLess(sum(1 for x in range(n) if x > value), 10 + n / 100 + 1)
        self.assertEqual(metrics.tail(range(30))[0], 66)


class Intervals(unittest.TestCase):
    def test_union_merges_overlaps_and_skips_gaps(self):
        self.assertEqual(metrics.union_length([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(metrics.union_length([(5, 6), (0, 10)]), 10)
        self.assertEqual(metrics.union_length([]), 0)
        self.assertEqual(metrics.union_length([(3, 3)]), 0)

    def test_driver_time_is_wall_minus_union_of_jobs(self):
        # op 0..10 s; jobs 1..4 and 3..6 overlap (5 s), 8..12 is clipped to 2 s
        jobs = [(1000, 4000), (3000, 6000), (8000, 12000)]
        self.assertAlmostEqual(metrics.driver_s(0, 10000, jobs), 3.0)
        self.assertAlmostEqual(metrics.driver_s(0, 10000, []), 10.0)

    def test_self_time_excludes_children_clipped_to_the_span(self):
        self.assertEqual(metrics.self_time(10, 20, [(12, 14), (13, 16), (18, 30)]), 4)
        self.assertEqual(metrics.self_time(0, 5, [(6, 9)]), 5)


class Ratios(unittest.TestCase):
    def test_skew_is_max_over_median_task_read(self):
        self.assertEqual(metrics.skew([10, 10, 10, 40]), 4.0)
        self.assertEqual(metrics.skew([5, 0, 0]), 1.0)
        self.assertEqual(metrics.skew([]), 1.0)

    def test_pair_yield(self):
        self.assertEqual(metrics.pair_yield(25, 100), 0.25)
        self.assertIsNone(metrics.pair_yield(25, 0))

    def test_pass_pair_yield_counts_only_ops_with_joins(self):
        ops = [dict({m: 0 for m in metrics.LAYER_METRICS}, wall_s=1.0, rows_out=r,
                    **{"plan.join_rows_out": j})
               for r, j in ((10, 40), (5, 0), (30, 60))]
        self.assertAlmostEqual(metrics.pass_layers(ops, 4)["pair_yield"], 40 / 100)


def record(trace=False):
    passes = [
        {"pass": 0, "traced": trace, "wall_s": 9.0, "cpu_s": 20.0, "heap_after_gc_mb": 300.0,
         "ops": [op(1, "a", 5.0, pass_=0), op(2, "b", 4.0, pass_=0)]},
        {"pass": 1, "traced": False, "wall_s": 5.0, "cpu_s": 15.0, "heap_after_gc_mb": 330.0,
         "ops": [op(3, "b", 2.0, pass_=1), op(4, "a", 3.0, pass_=1)]},
        {"pass": 2, "traced": False, "wall_s": 3.0, "cpu_s": 9.0, "heap_after_gc_mb": 320.0,
         "ops": [op(5, "b", 1.0, pass_=2), op(6, "a", 2.0, pass_=2)]},
        {"pass": 3, "traced": trace, "wall_s": 4.0, "cpu_s": 10.0, "heap_after_gc_mb": 310.0,
         "ops": [op(7, "a", 2.5, start=100.0, pass_=3), op(8, "b", 1.5, start=3000.0, pass_=3)]},
        {"pass": 4, "traced": False, "wall_s": 3.5, "cpu_s": 11.0, "heap_after_gc_mb": 305.0,
         "ops": [op(9, "a", 2.2, pass_=4), op(10, "b", 1.3, pass_=4)]},
    ]
    return {"cpus": 4, "setup_s": 4.0, "passes": passes,
            "jobs": [{"op": 7, "job": 0, "start_ms": 200.0, "end_ms": 1200.0, "stages": 2,
                      "skipped": 1, "ok": True},
                     {"op": 7, "job": 1, "start_ms": 1500.0, "end_ms": 2500.0, "stages": 1,
                      "skipped": 0, "ok": True}],
            "stages": [stage(7, 0, 0, task_reads=[1, 1, 3]), stage(7, 1, 1)],
            "queries": [{"op": 7, "func": "op", "ok": True, "analysis_ms": 5,
                         "optimization_ms": 6, "planning_ms": 7, "join_rows_out": 40,
                         "scan_bytes": 3 * metrics.MIB}],
            "progress": [{"op": 8, "query": "q", "batch": b, "input_rows": 10,
                          "duration_ms": {"triggerExecution": 200, "addBatch": 120,
                                          "walCommit": 10, "latestOffset": 5},
                          "state_rows": 7 * b, "state_bytes": metrics.MIB, "state_commit_ms": 3}
                         for b in (0, 1)],
            "gcs": [{"op": 7, "heap_after_mb": 120.0}, {"op": 7, "heap_after_mb": 90.0}]}


class EndToEnd(unittest.TestCase):
    def test_pass_medians_and_cold_sum(self):
        values, walls = metrics.end_to_end(record())
        self.assertEqual(values["setup_s"], 4.0)
        self.assertEqual(values["cold_s"], 9.0)
        self.assertEqual(values["warm_s"], 3.75)  # median of 5.0, 3.0, 4.0, 3.5
        self.assertEqual(values["cpu_s"], 10.5)
        self.assertEqual(values["op_p50_s"],
                         statistics.median([2, 3, 1, 2, 2.5, 1.5, 2.2, 1.3]))
        self.assertEqual(values["heap_peak_mb"], 330.0)
        self.assertEqual(len(walls), 8)


class PerLayer(unittest.TestCase):
    def test_op_layers_from_listener_records(self):
        layers = metrics.op_layers(record(trace=True))
        a = layers[7]
        self.assertEqual(a["sched.jobs"], 2)
        self.assertEqual(a["build_jobs"], 1)  # job 0 starts inside the 1.25 s build
        self.assertEqual(a["sched.stages_skipped"], 1)
        self.assertAlmostEqual(a["driver_s"], 2.5 - 2.0)
        self.assertAlmostEqual(a["task.busy_ratio"], 2.0 / (2.5 * 4))
        self.assertAlmostEqual(a["shuffle.skew"], 3.0)
        self.assertAlmostEqual(a["pair_yield"], 10 / 40)
        self.assertEqual(a["jvm.heap_after_gc_mb"], 120.0)
        self.assertEqual(a["scan.mb"], 3.0)
        b = layers[8]
        self.assertEqual(b["stream.batches"], 2)
        self.assertAlmostEqual(b["stream.overhead_s"], 1.5 - 0.4)
        self.assertEqual(b["stream.state_rows"], 7)  # last progress of the query
        self.assertEqual(layers[1]["stream.overhead_s"], 0.0)

    def test_per_layer_emits_every_metric_and_overhead(self):
        values, _ = metrics.per_layer(record(trace=True))
        for m in metrics.LAYER_METRICS + ["trace.overhead", "cold.jvm.jit_s", "cold.proc.cpu_s"]:
            self.assertIn(m, values)
        self.assertAlmostEqual(values["trace.overhead"],
                               4.0 / statistics.median([5.0, 3.0, 3.5]))

    def test_spans_nest_and_share_the_run_id(self):
        rec = record(trace=True)
        spans = metrics.spans(rec, "r1", metrics.op_layers(rec))
        self.assertEqual({s["run_id"] for s in spans}, {"r1"})
        by_id = {s["span_id"]: s for s in spans}
        self.assertEqual(by_id["op7.job0"]["parent_id"], "op7.build")
        self.assertEqual(by_id["op7.job1"]["parent_id"], "op7.action")
        self.assertEqual(by_id["op7.job0.stage0.0"]["parent_id"], "op7.job0")
        self.assertAlmostEqual(by_id["op7.build"]["self_ms"], 1250 - 1000)


class OutputCheck(unittest.TestCase):
    def test_failed_executions(self):
        rec = record()
        rec["passes"][1]["ops"][0]["hash"] = "8"  # b differs from its cold pass
        rec["passes"][3]["ops"][1] = dict(rec["passes"][3]["ops"][1], error="boom")
        self.assertEqual(check.failed_executions(rec, set()), {3, 8})
        self.assertEqual(check.failed_executions(record(), {"a"}), {1, 4, 6, 7, 9})

    def test_parse_oracle_report(self):
        report = ("ok   q01: 4 rows\n"
                  "FAIL q05: rows 10 vs 9\n"
                  "FAIL d43: no spark dump (IO Error: No files found)\n"
                  "== 1 ok, 2 fail ==\n")
        self.assertEqual(check.parse_report(report, ["q01", "q05", "d43", "q09"], "gone"),
                         {"q05": "rows 10 vs 9", "d43": "no spark dump (IO Error: No files found)",
                          "q09": "gone"})
        self.assertEqual(check.parse_report("", ["q01"], "exited with 1"), {"q01": "exited with 1"})


class BenchmarkFile(unittest.TestCase):
    def test_metric_names_match_benchmark_json(self):
        with open(os.path.join(os.path.dirname(os.path.dirname(HERE)), "BENCHMARK.json")) as f:
            bench = json.load(f)
        values, _ = metrics.end_to_end(record())
        self.assertEqual({m["name"] for m in bench["end_to_end"]}, set(values))
        layer_values, _ = metrics.per_layer(record(trace=True))
        self.assertEqual({m["name"] for m in bench["per_layer"]}, set(layer_values))


if __name__ == "__main__":
    unittest.main()
