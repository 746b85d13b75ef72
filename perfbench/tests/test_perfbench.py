"""Unit tests of the benchmark's own pieces.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import gen  # noqa: E402
import metrics as m  # noqa: E402
import workloads  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        values = list(range(20, 0, -1))  # 20..1, unsorted on purpose
        self.assertEqual(m.percentile(values, 0.50), (10, 20))
        self.assertEqual(m.percentile(list(range(1, 201)), 0.95), (190, 200))

    def test_needs_ten_samples_beyond(self):
        # p50 of 19 samples leaves only 9 beyond the rank
        self.assertEqual(m.percentile(list(range(19)), 0.50), (None, 19))
        self.assertEqual(m.percentile(list(range(199)), 0.95), (None, 199))
        self.assertEqual(m.percentile(list(range(999)), 0.99), (None, 999))
        self.assertEqual(m.percentile(list(range(1, 1001)), 0.99), (990, 1000))
        self.assertEqual(m.percentile([], 0.5), (None, 0))


class LatencyTest(unittest.TestCase):
    def test_lateness_is_landed_minus_due(self):
        self.assertEqual(m.lateness_ms([0, 500, 1000], [3, 500, 1012]), [3, 0, 12])

    def test_latency_counts_from_due_time(self):
        # file 1 is due at 500 but lands 300 ms late; its latency still
        # starts at 500, so the arrival lateness is part of it
        due, rows = [0, 500, 1000], [10, 10, 10]
        commits = [(900, 10), (1900, 20)]
        self.assertEqual(m.file_latencies_ms(due, rows, commits), [900, 1400, 900])

    def test_batches_map_to_files_by_cumulative_rows(self):
        due, rows = [0, 100, 200, 300], [5, 5, 5, 5]
        commits = [(1000, 0), (1050, 10), (2000, 5)]
        self.assertEqual(m.file_latencies_ms(due, rows, commits), [1050, 950, 1800, None])


class RelayCheckTest(unittest.TestCase):
    INPUT = ["c/1", "c/2", "c/3", "c/2"]  # c/2 is a redelivery

    def test_exact_delivery_passes(self):
        self.assertEqual(m.check_relay(self.INPUT, ["c/3", "c/1", "c/2"], 1), [])

    def test_lost_event_is_caught(self):
        fails = m.check_relay(self.INPUT, ["c/1", "c/2"], 1)
        self.assertTrue(any("lost" in f for f in fails), fails)

    def test_duplicate_is_caught(self):
        fails = m.check_relay(self.INPUT, ["c/1", "c/2", "c/3", "c/2"], 1)
        self.assertTrue(any("more than once" in f for f in fails), fails)
        self.assertTrue(any("not suppressed" in f for f in fails), fails)

    def test_missing_redelivery_in_input_is_caught(self):
        fails = m.check_relay(["c/1", "c/2", "c/3"], ["c/1", "c/2", "c/3"], 1)
        self.assertTrue(any("injected" in f for f in fails), fails)


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_rows(self):
        a, na = gen.event_files(5, 1, 3, per_file=200)
        b, nb = gen.event_files(5, 1, 3, per_file=200)
        c, _ = gen.event_files(6, 1, 3, per_file=200)
        self.assertEqual(na, nb)
        self.assertTrue(all(x.equals(y) for x, y in zip(a, b)))
        self.assertFalse(a[0].equals(c[0]))

    def test_redeliveries_come_from_the_previous_file(self):
        tables, injected = gen.event_files(1, 1, 4, per_file=1000)
        self.assertEqual(injected, 3 * 10)
        for prev, t in zip(tables, tables[1:]):
            ts = t.column("ts").to_pylist()
            new, redelivered = ts[:1000], ts[1000:]
            self.assertEqual(new, sorted(set(new)))
            self.assertEqual(len(redelivered), 10)
            self.assertTrue(set(redelivered) <= set(prev.column("ts").to_pylist()[:1000]))

    def test_staged_mtimes_strictly_increase(self):
        tables, _ = gen.event_files(1, 1, 5, per_file=200)
        with tempfile.TemporaryDirectory() as d:
            entries = gen.stage(tables, d)
            mtimes = [os.stat(os.path.join(d, e["name"])).st_mtime_ns for e in entries]
        self.assertEqual([e["rows"] for e in entries], [200, 202, 202, 202, 202])
        self.assertTrue(all(a < b for a, b in zip(mtimes, mtimes[1:])))


class BenchmarkFileTest(unittest.TestCase):
    def test_declared_metrics_match_the_code(self):
        with open(os.path.join(HERE, "..", "..", "BENCHMARK.json")) as f:
            spec = json.load(f)
        self.assertEqual([p["name"] for p in spec["per_layer"]],
                         [n for n, _ in workloads.PER_LAYER])
        self.assertEqual({p["name"]: p["unit"] for p in spec["per_layer"]}, workloads.UNITS)
        self.assertEqual(sorted(w["name"] for w in spec["workloads"]),
                         sorted(workloads.WORKLOADS))


if __name__ == "__main__":
    unittest.main()
