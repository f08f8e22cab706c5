"""Tests of the benchmark's pure parts. Run from the repo root:

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import layers  # noqa: E402
from stats import covered, owner, permutation, self_time, tail_percentile  # noqa: E402


class TailPercentile(unittest.TestCase):
    def test_at_least_ten_beyond_and_highest_such(self):
        for n in range(11, 600):
            p, v = tail_percentile(list(range(n)))
            beyond = sum(1 for x in range(n) if x > v)
            self.assertGreaterEqual(beyond, 10, n)
            if p < 99:  # the next percentile up would leave fewer than ten
                rank = -(-(p + 1) * n // 100)
                self.assertLess(n - rank, 10, n)

    def test_known_values(self):
        self.assertEqual(tail_percentile(list(range(1, 13))), (16, 2))
        self.assertEqual(tail_percentile(list(range(1, 37))), (72, 26))
        self.assertEqual(tail_percentile(list(range(1, 1001))), (99, 990))

    def test_order_of_samples_does_not_matter(self):
        self.assertEqual(tail_percentile([5, 1, 4, 2, 3] * 4),
                         tail_percentile(sorted([5, 1, 4, 2, 3] * 4)))

    def test_too_few_samples(self):
        self.assertIsNone(tail_percentile(list(range(10))))
        self.assertIsNone(tail_percentile([]))


class SpanArithmetic(unittest.TestCase):
    def test_overlapping_children_count_once(self):
        self.assertEqual(covered((0, 10), [(1, 3), (2, 5)]), 4)
        self.assertEqual(self_time((0, 10), [(1, 3), (2, 5)]), 6)

    def test_children_are_clipped_to_the_parent(self):
        self.assertEqual(self_time((0, 10), [(-5, 2), (8, 12)]), 6)
        self.assertEqual(self_time((0, 10), [(11, 12), (-3, -1)]), 10)

    def test_nested_and_touching_children(self):
        self.assertEqual(self_time((0, 10), [(1, 9), (2, 3), (9, 10)]), 1)

    def test_no_children(self):
        self.assertEqual(self_time((2.5, 4.0), []), 1.5)

    def test_owner_window(self):
        w = [(0, 1), (2, 4), (5, 9)]
        self.assertEqual([owner(w, t) for t in (0.5, 3, 9, 1.5, 10)],
                         [0, 1, 2, None, None])


class LayerTree(unittest.TestCase):
    """One traced query: build 0-40 ms holding a 10-30 ms micro-batch that
    holds a stage, then an action 40-100 ms holding a planning phase
    (40-50) and a stage (60-90)."""

    def run_record(self):
        ex = lambda p, phase, t: {  # noqa: E731
            "pass": p, "phase": phase, "query": "q", "start_ms": t,
            "build_s": 0.04, "action_s": 0.06, "rows": 5}
        stage = lambda a, b, **kw: dict({  # noqa: E731
            "start_ms": a, "end_ms": b, "tasks": 2, "task_failures": 0,
            "run_s": 0.05, "cpu_s": 0.04, "gc_s": 0.0, "in_bytes": 0,
            "in_rows": 0, "out_bytes": 0, "out_rows": 0, "shuffle_write": 0,
            "shuffle_read": 0, "fetch_wait_s": 0.0, "spill_disk": 0}, **kw)
        return {
            "execs": [ex(0, "cold", -400), ex(1, "warm", -200), ex(2, "traced", 0)],
            "passes": [
                {"pass": 0, "phase": "cold", "start_ms": -400, "end_ms": -300},
                {"pass": 1, "phase": "warm", "start_ms": -200, "end_ms": -100},
                {"pass": 2, "phase": "traced", "start_ms": 0, "end_ms": 100}],
            "codegen": {"cold_compiles": 3, "cold_compile_ns": 2e8,
                        "warm_compiles": 0, "warm_compile_ns": 0,
                        "interp_fallbacks": 0},
            "trace": {
                "actions": [{"start_ms": 50, "end_ms": 50, "duration_s": 0.06,
                             "write": False, "exchanges": 1, "smj": 0,
                             "phases": {"planning": {"start_ms": 40, "end_ms": 50}}}],
                "stages": [stage(12, 20), stage(60, 90, in_rows=50)],
                "jobs": [12, 60],
                "batches": [{"start_ms": 10, "end_ms": 30, "input_rows": 0,
                             "add_batch_s": 0.01, "wal_commit_s": 0.002,
                             "state_commit_s": 0.003, "state_rows": 7}],
            },
        }

    def test_self_times_subtract_children_only_once(self):
        m = layers.layer_metrics(self.run_record(), cores=2)
        self.assertAlmostEqual(m["entry.build_self_s"], 0.020)  # 40 - batch 20
        self.assertAlmostEqual(m["action.self_s"], 0.020)  # 60 - 10 - 30
        self.assertAlmostEqual(m["plan.physical_s"], 0.010)
        self.assertEqual(m["exec.stages"], 2)
        self.assertEqual(m["exec.jobs"], 2)
        self.assertEqual(m["stream.batches"], 1)
        self.assertEqual(m["stream.empty_batch_frac"], 1.0)
        self.assertAlmostEqual(m["scan.rows_per_result"], 10.0)
        self.assertAlmostEqual(m["exec.busy_frac"], 0.1 / (0.1 * 2))
        self.assertAlmostEqual(m["share.exec"], 0.38)  # stages cover 8 + 30 ms
        self.assertAlmostEqual(m["trace.overhead"], 1.0)

    def test_every_declared_per_layer_metric_is_produced(self):
        with open(os.path.join(HERE, "..", "..", "BENCHMARK.json")) as f:
            declared = {m["name"] for m in json.load(f)["per_layer"]}
        produced = set(layers.layer_metrics(self.run_record(), cores=2))
        self.assertEqual(declared - produced, {"run.bytes_left"})


class Seeds(unittest.TestCase):
    def test_permutation_is_fixed_by_seed_and_pass(self):
        names = [f"q{i}" for i in range(8)]
        self.assertEqual(permutation(names, 7, 3), permutation(names, 7, 3))
        self.assertEqual(sorted(permutation(names, 7, 3)), names)
        self.assertNotEqual(permutation(names, 7, 3), permutation(names, 8, 3))
        self.assertNotEqual(permutation(names, 7, 3), permutation(names, 7, 4))
        # pinned, so a change to the generator shows as a changed benchmark
        self.assertEqual(permutation(names, 1, 0),
                         ['q0', 'q4', 'q3', 'q7', 'q6', 'q2', 'q5', 'q1'])


if __name__ == "__main__":
    unittest.main()
