"""Tests of the benchmark's own arithmetic: percentiles, the live workload's
per-file latency join, and the curation family sums.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import metrics  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        xs = [15, 20, 35, 40, 50]
        self.assertEqual(metrics.percentile(xs, 30), 20)
        self.assertEqual(metrics.percentile(xs, 40), 20)
        self.assertEqual(metrics.percentile(xs, 50), 35)
        self.assertEqual(metrics.percentile(xs, 100), 50)

    def test_order_does_not_matter(self):
        self.assertEqual(metrics.percentile([3, 1, 2], 50), 2)

    def test_p95_of_a_hundred(self):
        self.assertEqual(metrics.percentile(range(1, 101), 95), 95)

    def test_empty_sample_is_an_error(self):
        with self.assertRaises(ValueError):
            metrics.percentile([], 50)


class LiveJoinTest(unittest.TestCase):
    def files(self):
        # two files of one collection, one second apart, in epochs 3 and 4
        return [{"coll": "c", "file": 0, "due_ms": 10_000, "done_ms": 10_005, "epoch": 3},
                {"coll": "c", "file": 1, "due_ms": 11_000, "done_ms": 11_002, "epoch": 4}]

    def epochs(self):
        return {"c": [{"batch": 3, "commit_ms": 12_400}, {"batch": 4, "commit_ms": 14_300}],
                "d": [{"batch": 3, "commit_ms": 99_999}]}

    def test_join_takes_the_commit_of_the_files_epoch_in_its_collection(self):
        joined = metrics.join_commits(self.files(), self.epochs())
        self.assertEqual([f["commit_ms"] for f in joined], [12_400, 14_300])

    def test_unpublished_file_gets_no_commit(self):
        files = self.files() + [{"coll": "c", "file": 2, "due_ms": 12_000, "done_ms": 12_001,
                                 "epoch": None}]
        self.assertIsNone(metrics.join_commits(files, self.epochs())[2]["commit_ms"])

    def test_event_latencies_span_the_files_second(self):
        f = {"due_ms": 10_000, "commit_ms": 12_400}
        lat = metrics.file_latencies(f, 4, 1000)
        # events created at 9250, 9500, 9750 and 10000 ms
        self.assertEqual(lat, [3150, 2900, 2650, 2400])

    def test_live_stats(self):
        joined = metrics.join_commits(self.files(), self.epochs())
        s = metrics.live_stats(joined, 4, 1000)
        # latencies: file 0 -> 3150..2400, file 1 -> 4050..3300
        self.assertEqual(s["latency_p50_ms"], 3150)
        self.assertEqual(s["latency_p95_ms"], 4050)

    def test_backlog_counts_written_but_uncommitted_files(self):
        files = [{"coll": "c", "done_ms": 0, "commit_ms": 2_500},
                 {"coll": "c", "done_ms": 1_000, "commit_ms": 2_500},
                 {"coll": "c", "done_ms": 2_000, "commit_ms": None},
                 {"coll": "d", "done_ms": 2_000, "commit_ms": 2_100}]
        self.assertEqual(metrics.backlog_max(files), 3)


class CurationSumsTest(unittest.TestCase):
    families = {"dedup": ["a", "b"], "quality": ["c"]}

    def one_pass(self, a, b, c, traced=False):
        return {"traced": traced, "ops": {"a": {"wall_s": a}, "b": {"wall_s": b}, "c": {"wall_s": c}}}

    def test_family_sums(self):
        sums = metrics.family_sums(self.one_pass(1.0, 2.0, 4.0)["ops"], self.families)
        self.assertEqual(sums, {"dedup": 3.0, "quality": 4.0})

    def test_pass_stats_take_medians_over_passes(self):
        passes = [self.one_pass(1.0, 2.0, 4.0), self.one_pass(1.0, 1.0, 6.0),
                  self.one_pass(2.0, 2.0, 5.0)]
        s = metrics.pass_stats(passes, self.families)
        self.assertEqual(s["pass_s"], 8.0)
        self.assertEqual(s["dedup_s"], 3.0)
        self.assertEqual(s["quality_s"], 5.0)
        self.assertAlmostEqual(s["throughput_per_s"], 3 / 8.0)
        self.assertEqual(s["latency_p50_ms"], 2000.0)

    def test_passes_with_a_failed_operator_are_left_out(self):
        failed = self.one_pass(1.0, 1.0, 1.0)
        failed["ops"]["b"]["wall_s"] = None
        s = metrics.pass_stats([failed, self.one_pass(1.0, 2.0, 4.0)], self.families)
        self.assertEqual(s["pass_s"], 7.0)
        self.assertEqual(metrics.pass_stats([failed], self.families), {})


class CatchupTest(unittest.TestCase):
    def test_drain_stats(self):
        drains = [
            {"kind": "connect", "wall_ms": 2000.0},
            {"kind": "materialize", "wall_ms": 3000.0},
            {"kind": "connect", "wall_ms": 1000.0},
            {"kind": "materialize", "wall_ms": 4000.0},
            {"kind": "connect", "wall_ms": 4000.0}]
        s = metrics.drain_stats(drains, 1000)
        self.assertEqual(s["publish_eps"], 500.0)
        self.assertEqual(s["throughput_per_s"], 500.0)
        self.assertAlmostEqual(s["materialize_eps"], (1000 / 3.0 + 250.0) / 2)

    def test_drain_stats_without_table_drains(self):
        s = metrics.drain_stats([{"kind": "connect", "wall_ms": 500.0}], 1000)
        self.assertEqual(s, {"publish_eps": 2000.0, "throughput_per_s": 2000.0})

    def test_setup_sums_the_phases(self):
        raw = {"workload": "connector", "live": {"setup_s": 15.0}, "catchup": {"setup_s": 10.0}}
        self.assertEqual(metrics.setup_s(raw), 25.0)

    def test_epoch_floor_joins_on_the_epoch_id(self):
        # the listener missed epoch 1 and saw a stray epoch 7
        epochs = [{"batch": 0, "durations": {"triggerExecution": 300}},
                  {"batch": 2, "durations": {"triggerExecution": 500}},
                  {"batch": 7, "durations": {"triggerExecution": 9000}}]
        sink = [{"batch": 0, "ms": 100.0}, {"batch": 1, "ms": 150.0}, {"batch": 2, "ms": 120.0}]
        self.assertEqual(metrics.epoch_floors(epochs, sink), [200.0, 380.0])

if __name__ == "__main__":
    unittest.main()
