"""Tests of the benchmark's metric rules. Run from the repo root:

  python3 -m unittest discover -s perfbench/tests
"""
import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
import metrics  # noqa: E402


class UnionAndSelfTime(unittest.TestCase):
    def test_disjoint_children_add_up(self):
        self.assertAlmostEqual(metrics.union_length([(0, 1), (2, 4)]), 3)

    def test_overlapping_children_count_once(self):
        # Two concurrent jobs: summed time 6, covered time 4.
        self.assertAlmostEqual(metrics.union_length([(0, 3), (1, 4)]), 4)

    def test_nested_child_inside_another(self):
        self.assertAlmostEqual(metrics.union_length([(0, 10), (2, 3), (4, 9)]), 10)

    def test_children_are_clipped_to_parent(self):
        self.assertAlmostEqual(metrics.union_length([(-5, 2), (8, 20)], 0, 10), 4)

    def test_self_time_subtracts_union_not_sum(self):
        # Parent 0..10; jobs 1..5 and 2..6 overlap (sum 8, union 5).
        self.assertAlmostEqual(metrics.self_time(0, 10, [(1, 5), (2, 6)]), 5)

    def test_self_time_never_negative_when_children_exceed_parent(self):
        self.assertAlmostEqual(
            metrics.self_time(0, 4, [(0, 4), (0, 4), (1, 3)]), 0)

    def test_driver_gap_of_a_pass(self):
        record = {
            "spans": [
                {"id": 1, "parent": -1, "kind": "pass", "name": "pass0", "start": 0, "end": 10},
                {"id": 2, "parent": 1, "kind": "query", "name": "g06", "start": 0, "end": 10},
                {"id": 3, "parent": 2, "kind": "build", "name": "graph", "start": 0, "end": 6},
                {"id": 4, "parent": 2, "kind": "exec", "name": "graph", "start": 6, "end": 10},
            ],
            "plans": [{"phases": {"planning": {"start": 6.0, "end": 6.5}}}],
        }
        jobs = [{"start": 1, "end": 4}, {"start": 2, "end": 5}, {"start": 7, "end": 9}]
        out = metrics.pass_layers(record, record["spans"][0], jobs)
        self.assertAlmostEqual(out["graph.driver_gap_s"], 10 - 4 - 2)
        self.assertEqual(out["graph.jobs"], 3)
        self.assertEqual(out["graph.build_jobs"], 2)
        self.assertAlmostEqual(out["graph.build_s"], 6)
        self.assertAlmostEqual(out["graph.plan_s"], 0.5)
        self.assertEqual(out["operators.jobs"], 0)


class Percentile(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(metrics.percentile(xs, 50), 50)
        self.assertEqual(metrics.percentile(xs, 99), 99)
        self.assertEqual(metrics.percentile(xs, 100), 100)

    def test_small_samples_round_rank_up(self):
        self.assertEqual(metrics.percentile([3, 1, 2], 50), 2)
        self.assertEqual(metrics.percentile([4, 1, 3, 2], 50), 2)
        self.assertEqual(metrics.percentile([5, 1, 4, 2, 3], 99), 5)

    def test_one_stall_does_not_decide_the_chunked_p99(self):
        samples = [(t, 10.0) for t in range(1000)]
        samples[100:120] = [(t, 5000.0) for t in range(100, 120)]
        self.assertEqual(metrics.percentile([v for _, v in samples], 99), 5000.0)
        self.assertEqual(metrics.chunked_percentile(samples, 99), 10.0)

    def test_no_values_is_an_error(self):
        with self.assertRaises(ValueError):
            metrics.percentile([], 50)


class CorrectnessGate(unittest.TestCase):
    expected = {"q01": {"rows": 18, "digest": "aa"},
                "g31": {"rows": 150, "digest": None}}

    def test_matching_results_pass(self):
        checks = [{"query": "q01", "rows": 18, "digest": "aa"},
                  {"query": "g31", "rows": 150, "digest": "anything"}]
        self.assertEqual(metrics.check_batch(checks, self.expected), (2, 0, []))

    def test_wrong_digest_counts_as_failure(self):
        checks = [{"query": "q01", "rows": 18, "digest": "ab"},
                  {"query": "g31", "rows": 150, "digest": "x"}]
        attempted, failed, notes = metrics.check_batch(checks, self.expected)
        self.assertEqual((attempted, failed), (2, 1))
        self.assertIn("q01", notes[0])

    def test_wrong_row_count_fails_even_rows_only_queries(self):
        checks = [{"query": "g31", "rows": 149, "digest": "x"}]
        self.assertEqual(metrics.check_batch(checks, self.expected)[1], 1)

    def test_thrown_query_and_unknown_query_fail(self):
        checks = [{"query": "q01", "error": "boom"},
                  {"query": "zz", "rows": 1, "digest": "aa"}]
        self.assertEqual(metrics.check_batch(checks, self.expected)[1], 2)

    def test_mismatch_is_reported_as_failure_not_timing(self):
        record = {
            "checks": [{"query": "q01", "rows": 18, "digest": "bad"}],
            "errors": [],
            "setups": [{"setup_s": 1.0, "warmscan_s": 0.5}],
            "spans": [
                {"id": 1, "parent": -1, "kind": "pass", "name": "pass0", "start": 0, "end": 2},
                {"id": 2, "parent": 1, "kind": "query", "name": "q01", "start": 0, "end": 2},
            ],
        }
        e2e, attempted, failed, notes = metrics.batch_end_to_end(record, self.expected)
        self.assertEqual((attempted, failed), (2, 1))
        self.assertAlmostEqual(e2e["pass_s"][0], 2)

    def test_thrown_query_is_not_a_timing(self):
        # pass0 is clean; in pass1 q01 throws after 0.1 s.
        record = {
            "checks": [{"query": "q01", "rows": 18, "digest": "aa"}],
            "errors": [{"span": 4, "query": "q01", "error": "boom"}],
            "setups": [{"setup_s": 1.0, "warmscan_s": 0.5}],
            "spans": [
                {"id": 1, "parent": -1, "kind": "pass", "name": "pass0", "start": 0, "end": 2},
                {"id": 2, "parent": 1, "kind": "query", "name": "q01", "start": 0, "end": 2},
                {"id": 3, "parent": -1, "kind": "pass", "name": "pass1", "start": 2, "end": 2.1},
                {"id": 4, "parent": 3, "kind": "query", "name": "q01", "start": 2, "end": 2.1},
            ],
        }
        e2e, attempted, failed, _ = metrics.batch_end_to_end(record, self.expected)
        self.assertEqual((attempted, failed), (3, 1))
        self.assertAlmostEqual(e2e["pass_s"][0], 2)
        self.assertAlmostEqual(e2e["latency_p50_ms"][0], 2000)
        self.assertAlmostEqual(e2e["latency_p99_ms"][0], 2000)

    def test_no_clean_pass_is_an_error(self):
        record = {"errors": [{"span": 2, "query": "q01", "error": "boom"}],
                  "spans": [
                      {"id": 1, "parent": -1, "kind": "pass", "name": "pass0", "start": 0, "end": 1},
                      {"id": 2, "parent": 1, "kind": "query", "name": "q01", "start": 0, "end": 1}]}
        with self.assertRaises(ValueError):
            metrics.clean_passes(record)

    def test_dead_stream_query_counts_as_failure(self):
        batch = {"timestamp": "1970-01-01T00:00:05Z", "numInputRows": 10,
                 "durationMs": {"triggerExecution": 300}}
        record = {
            "setups": [{"setup_s": 1.0, "warmscan_s": 0.5}],
            "stream": {
                "window": [0, 10], "generated": 10,
                "missing": 0, "duplicated": 0, "stray": 0,
                "query_errors": ["windowed: RocksDB failed"],
                "latency_ms": [(t, 100.0) for t in range(10)],
                "progress": {"stateless": [batch], "windowed": []},
            },
        }
        _, attempted, failed, notes = metrics.stream_end_to_end(record)
        self.assertEqual((attempted, failed), (12, 1))
        self.assertIn("RocksDB", notes[0])


if __name__ == "__main__":
    unittest.main()
