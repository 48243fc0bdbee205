"""Tests of the benchmark's own rules. Run from the repository root:

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import analysis  # noqa: E402
import gen  # noqa: E402


class TailRule(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        # 100 samples: p90 is rank 90, ten beyond; p91 leaves nine
        self.assertEqual(analysis.tail_percentile(100), 90)
        # 36 samples: p72 is rank 26 (ten beyond), p73 is rank 27
        self.assertEqual(analysis.tail_percentile(36), 72)
        self.assertEqual(analysis.tail_percentile(20), 50)

    def test_too_few_samples(self):
        self.assertIsNone(analysis.tail_percentile(10))
        v, p, n = analysis.tail([3.0, 1.0, 2.0])
        self.assertEqual((v, p, n), (3.0, 100, 3))

    def test_tail_value_is_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(analysis.tail(xs), (90, 90, 100))
        self.assertEqual(analysis.nearest_rank([5, 1, 3], 50), 3)


class Intervals(unittest.TestCase):
    def test_union_merges_overlaps_and_skips_empty(self):
        self.assertEqual(analysis.union_length([(0, 2), (1, 3), (5, 6), (7, 7)]), 4)
        self.assertEqual(analysis.union_length([]), 0)

    def test_driver_gap_is_wall_not_covered_by_jobs(self):
        # op 0..10; jobs 1..3 and 2..4 overlap (3 covered), 8..12 clipped to 2
        self.assertEqual(analysis.driver_gap(0, 10, [(1, 3), (2, 4), (8, 12), (20, 30)]), 5)

    def test_self_time_subtracts_children_union(self):
        spans = [
            {"id": 1, "parent": 0, "start_ms": 0, "end_ms": 10},
            {"id": 2, "parent": 1, "start_ms": 1, "end_ms": 4},
            {"id": 3, "parent": 1, "start_ms": 3, "end_ms": 6},
            {"id": 4, "parent": 2, "start_ms": 1, "end_ms": 2},
        ]
        st = analysis.self_times(spans)
        self.assertEqual(st[1], 5)   # children cover 1..6
        self.assertEqual(st[2], 2)   # child covers 1..2
        self.assertEqual(st[3], 3)


class Attribution(unittest.TestCase):
    def test_group_then_time_then_unattributed(self):
        spans = [{"id": 1, "parent": 0, "op": 1, "start_ms": 0, "end_ms": 10},
                 {"id": 2, "parent": 1, "op": 1, "start_ms": 2, "end_ms": 5}]
        jobs = analysis.jobs_table([
            {"id": 7, "event": "start", "time_ms": 3, "group": "span-1", "stages": [1]},
            {"id": 7, "event": "end", "time_ms": 4},
            {"id": 8, "event": "start", "time_ms": 3, "group": None},
            {"id": 8, "event": "end", "time_ms": 4},
            {"id": 9, "event": "start", "time_ms": 30, "group": "span-2"},
            {"id": 9, "event": "end", "time_ms": 31},
        ])
        owner = analysis.attribute(jobs, spans)
        self.assertEqual(owner, {7: 1, 8: 2})


class StreamLatency(unittest.TestCase):
    def test_tick_waits_for_the_slowest_detector(self):
        ticks = [{"due_ms": 0, "offset": 0}, {"due_ms": 100, "offset": 1},
                 {"due_ms": 200, "offset": 2}]
        triggers = {"a": [(50, 0), (260, 2)],
                    "b": [(120, 1), (400, 2)]}
        # tick 0: a covers at 50, b at 120 -> 120; tick 1: a 260, b 120 -> 160
        self.assertEqual(analysis.match_latency(ticks, triggers), [120, 160, 200])

    def test_uncovered_tick_has_no_latency(self):
        ticks = [{"due_ms": 0, "offset": 0}, {"due_ms": 10, "offset": 5}]
        self.assertEqual(analysis.match_latency(ticks, {"a": [(5, 0)]}), [5, None])

    def test_progress_json_gives_trigger_end_and_offset(self):
        p = {"name": "q", "timestamp": "2026-01-01T00:00:00.500Z", "numInputRows": 3,
             "durationMs": {"triggerExecution": 250}, "sources": [{"endOffset": "4"}]}
        idle = dict(p, numInputRows=0)
        [(name, end, off, _)] = analysis.progress_triggers([json.dumps(p), json.dumps(idle)])
        self.assertEqual((name, off), ("q", 4))
        self.assertAlmostEqual(end % 1000.0, 750.0)


class Generator(unittest.TestCase):
    def test_same_seed_same_files_other_seed_differs(self):
        with tempfile.TemporaryDirectory() as d:
            digests = []
            for i, seed in enumerate((5, 5, 6)):
                out = os.path.join(d, str(i))
                rows = gen.generate("index_serve", seed, out)
                digests.append(gen.census(out)["sha256"])
            self.assertEqual(digests[0], digests[1])
            self.assertNotEqual(digests[0], digests[2])
            self.assertEqual(rows["base/documents"], gen.SIZES["index_serve"]["documents"])
            self.assertEqual(len([f for f in os.listdir(os.path.join(out, "base/documents.parquet"))
                                  if f.endswith(".parquet")]), gen.PARTS)


if __name__ == "__main__":
    unittest.main()
