"""Self-tests of the benchmark's own arithmetic and metric contract.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

No JVM needed: the raw harness output is synthesized.
"""
import json
import os
import unittest

import metrics

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def span(i, parent, op, layer, name, start_ms, end_ms):
    return {"id": i, "parent": parent, "op": op, "layer": layer, "name": name,
            "start_ns": int(start_ms * 1e6), "end_ns": int(end_ms * 1e6)}


def fake_raw(workload, trace):
    """A minimal harness output: two passes, one op each, and for traced
    runs one traced root with a build, an execute and a Spark job."""
    op = "epoch" if workload == "txtable_cdc" else metrics.GOLD_OPS[0]
    sample = [op, 100.0, True, 0, 40]
    passes = [{"wall_s": 1.0, "cpu_s": 2.0, "gc_ms": 5, "ops": [sample]},
              {"wall_s": 1.2, "cpu_s": 2.2, "gc_ms": 6, "ops": [sample]}]
    raw = {"workload": workload, "seed": 1, "cores": 4, "ops": [op],
           "setup_s": [10.0, 4.0, 4.5], "stage_s": [6.0, 2.0, 2.5],
           "passes": passes, "live_heap_mb": 100.0,
           "workload_data": {"versions": 3, "live_files": 2, "log_bytes": 10,
                             "table_bytes": 100, "live_rows": 4, "scans": [[1, 2]]}}
    if trace:
        raw["untraced_passes"] = passes
        raw["local1_passes"] = passes
        raw["trace"] = {
            "spans": [span(1, 0, 1, "client", op, 0, 100),
                      span(2, 1, 1, "entry", "build", 0, 20),
                      span(3, 1, 1, "driver", "execute", 20, 100)],
            "jobs": [{"id": 0, "start_ns": int(30e6), "stages": 1, "group": "1"},
                     {"id": 0, "end_ns": int(80e6)}],
            "stages": [{"id": 0, "tasks": 2, "end_ns": int(80e6), "run_ms": 60,
                        "deser_ms": 1, "gc_ms": 0, "shuffle_write_bytes": 0,
                        "shuffle_read_bytes": 0, "input_bytes": 10,
                        "task_max_ms": 40, "task_median_ms": 20}],
            "queries": [{"func": "save", "analysis": {"start_ns": int(21e6), "end_ns": int(22e6)},
                         "optimization": {}, "planning": {"start_ns": int(22e6), "end_ns": int(25e6)}}],
            "progress": [],
        }
    return raw


class MetricContract(unittest.TestCase):
    def test_benchmark_json_matches_catalog(self):
        bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
        self.assertEqual([(m["name"], m["unit"]) for m in bench["end_to_end"]],
                         metrics.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in bench["per_layer"]],
                         metrics.per_layer_catalog())
        self.assertEqual(bench["command"], ["python3", "perfbench/run.py"])

    def test_every_named_metric_is_present_with_its_unit(self):
        check = {"failures": [], "checked": 1, "update_share": 0.5}
        host = {"host.load1": 0.5, "host.steal_pct": 0.0}
        for workload in ("gold_batch", "txtable_cdc"):
            for trace in (False, True):
                d = metrics.derive(fake_raw(workload, trace), check, host)
                out = metrics.result(d, trace)
                want = metrics.per_layer_catalog() if trace else metrics.END_TO_END
                self.assertEqual(sorted(out["metrics"]), sorted(n for n, _ in want))
                for name, unit in want:
                    self.assertEqual(out["metrics"][name]["unit"], unit, name)
                    self.assertIsInstance(out["metrics"][name]["value"], float)
                self.assertEqual(sorted(out), ["attempted", "correct", "failed", "metrics"])
                self.assertTrue(out["correct"])

    def test_failures_count_against_correct(self):
        check = {"failures": ["x: 3 rows vs 4"], "checked": 1}
        d = metrics.derive(fake_raw("gold_batch", False), check, {})
        out = metrics.result(d, False)
        self.assertFalse(out["correct"])
        self.assertEqual(out["failed"], 1)
        self.assertEqual(out["attempted"], 3)

    def test_end_to_end_values(self):
        d = metrics.derive(fake_raw("gold_batch", False), {"failures": [], "checked": 1}, {})
        self.assertEqual(d["e2e"]["setup_s"], 4.5)
        self.assertAlmostEqual(d["e2e"]["pass_s"], 1.1)
        self.assertAlmostEqual(d["e2e"]["op_geomean_ms"], 100.0)

    def test_setup_layer_values(self):
        d = metrics.derive(fake_raw("gold_batch", True), {"failures": [], "checked": 1}, {})
        self.assertEqual(d["layers"]["setup.cold_s"], 10.0)
        self.assertEqual(d["layers"]["entry.stage_s"], 2.5)


    def test_drift_falls_back_to_the_warm_setups(self):
        passes = [{"wall_s": 2.0}, {"wall_s": 3.0}]
        self.assertEqual(metrics.drift(passes, [9.0, 4.0, 5.0]), 1.5)
        self.assertEqual(metrics.drift(passes[:1], [9.0, 4.0, 5.0]), 1.25)


class TailRule(unittest.TestCase):
    def test_no_tail_below_ten_samples_beyond_the_median(self):
        self.assertIsNone(metrics.tail(list(range(19))))

    def test_tail_needs_ten_samples_beyond_it(self):
        self.assertEqual(metrics.tail(list(range(1, 21))), (50.0, 10, 20))
        self.assertEqual(metrics.tail(list(range(1, 40)))[0], 50.0)
        self.assertEqual(metrics.tail(list(range(1, 41))), (75.0, 30, 40))
        self.assertEqual(metrics.tail(list(range(1, 101))), (90.0, 90, 100))
        self.assertEqual(metrics.tail(list(range(1, 1001))), (99.0, 990, 1000))
        self.assertEqual(metrics.tail(list(range(1, 10001))), (99.9, 9990, 10000))

    def test_every_reported_tail_has_ten_samples_beyond(self):
        for n in range(1, 400):
            xs = [float(i) for i in range(n)]
            t = metrics.tail(xs)
            if t is not None:
                self.assertGreaterEqual(sum(1 for x in xs if x > t[1]), 10, n)


class SpanArithmetic(unittest.TestCase):
    def test_union_length(self):
        self.assertEqual(metrics.union_length([]), 0)
        self.assertEqual(metrics.union_length([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(metrics.union_length([(0, 10), (2, 3), (10, 12)]), 12)

    def test_self_time_subtracts_overlapping_and_clipped_children(self):
        nodes = [span(1, 0, 1, "client", "op", 0, 100),
                 span(2, 1, 1, "entry", "build", 10, 40),
                 span(3, 1, 1, "driver", "execute", 30, 120),   # overlaps, overruns
                 span(4, 3, 1, "spark", "job", 50, 70)]
        s = metrics.self_times(nodes)
        self.assertEqual(s[1], int(10e6))                       # children cover 10..100
        self.assertEqual(s[2], int(30e6))
        self.assertEqual(s[3], int(90e6 - 20e6))
        self.assertEqual(s[4], int(20e6))

    def test_self_times_sum_to_root_when_children_nest(self):
        nodes = [span(1, 0, 1, "client", "op", 0, 100),
                 span(2, 1, 1, "driver", "execute", 0, 100),
                 span(3, 2, 1, "spark", "job", 10, 30),
                 span(4, 2, 1, "spark", "job", 40, 90)]
        self.assertEqual(sum(metrics.self_times(nodes).values()), int(100e6))

    def test_place_hangs_listener_spans_under_the_innermost_span(self):
        spans = [span(1, 0, 1, "client", "op", 0, 100),
                 span(2, 1, 1, "driver", "execute", 20, 100),
                 span(5, 0, 5, "client", "op", 200, 300)]
        derived = [{"layer": "spark", "name": "job", "start_ns": int(30e6), "end_ns": int(60e6)},
                   {"layer": "catalyst", "name": "planning", "start_ns": int(40e6),
                    "end_ns": int(45e6)},
                   {"layer": "spark", "name": "job", "start_ns": int(150e6),
                    "end_ns": int(160e6)}]
        nodes = metrics.place(spans, derived)
        job = [n for n in nodes if n["layer"] == "spark"]
        plan = [n for n in nodes if n["layer"] == "catalyst"][0]
        self.assertEqual(len(job), 1)                      # the job between ops is dropped
        self.assertEqual((job[0]["parent"], job[0]["op"]), (2, 1))
        self.assertEqual(plan["parent"], job[0]["id"])     # nested inside the job's interval

    def test_job_group_names_the_op(self):
        spans = [span(1, 0, 1, "client", "a", 0, 100), span(7, 0, 7, "client", "b", 100, 200)]
        derived = [{"layer": "spark", "name": "job", "start_ns": int(99e6),
                    "end_ns": int(150e6), "op_hint": 1}]
        node = [n for n in metrics.place(spans, derived) if n["layer"] == "spark"][0]
        self.assertEqual(node["op"], 1)


if __name__ == "__main__":
    unittest.main()
