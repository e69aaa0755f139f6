"""Tests for the benchmark's own logic: the tail-percentile rule, the
driver-gap computation, per-file stream-latency attribution, the
canonical result digest and generator determinism.

    python3 -m unittest discover -s perfbench/tests
"""
import hashlib
import os
import sys
import tempfile
import unittest
from datetime import datetime
from decimal import Decimal

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen          # noqa: E402
import metrics      # noqa: E402
import streambench  # noqa: E402


class TailRule(unittest.TestCase):
    def test_exactly_ten_samples_beyond_the_tail(self):
        values = list(range(1, 101))            # 100 samples
        v, pct, n = metrics.tail(values)
        self.assertEqual((v, pct, n), (90, 90.0, 100))
        self.assertEqual(sum(1 for x in values if x > v), 10)

    def test_highest_percentile_grows_with_the_sample(self):
        v, pct, _ = metrics.tail(list(range(1, 1001)))
        self.assertEqual((v, pct), (990, 99.0))

    def test_order_of_samples_does_not_matter(self):
        values = [5, 1, 9, 3, 7] * 20
        self.assertEqual(metrics.tail(values), metrics.tail(sorted(values)))

    def test_small_samples_keep_the_percentile_at_the_floor(self):
        # 24 samples: ten beyond would be p58; the floor keeps it >= p80
        v, pct, n = metrics.tail(list(range(1, 25)))
        self.assertEqual((v, n), (20, 24))
        self.assertGreaterEqual(pct, 80.0)
        self.assertEqual(sum(1 for x in range(1, 25) if x > v), 4)

    def test_two_samples_tail_is_the_smaller_one(self):
        self.assertEqual(metrics.tail([3.0, 8.0])[0], 3.0)


class DriverGap(unittest.TestCase):
    def test_no_jobs_means_all_driver(self):
        self.assertEqual(metrics.driver_gap(0, 100, []), 100)

    def test_overlapping_jobs_count_once(self):
        jobs = [(10, 40), (30, 60), (70, 80)]
        self.assertEqual(metrics.union_length(jobs), 60)
        self.assertEqual(metrics.driver_gap(0, 100, jobs), 40)

    def test_jobs_are_clipped_to_the_operation(self):
        self.assertEqual(metrics.driver_gap(50, 100, [(0, 60), (90, 200)]), 30)

    def test_nested_and_empty_intervals(self):
        jobs = [(10, 90), (20, 30), (40, 40)]
        self.assertEqual(metrics.driver_gap(0, 100, jobs), 20)


class StreamAttribution(unittest.TestCase):
    readers = {"dwd": ["/ods/events/"], "dwm": ["/dwd/"], "dws": ["/dwd/"],
               "prov": ["/ods/orders/"]}

    def test_latency_follows_derived_files_to_the_last_commit(self):
        landed = {"/ods/events/a": 100.0, "/ods/events/b": 101.0}
        batches = {
            "dwd": [(0, 102.0, ["/ods/events/a"], ["/dwd/p0"]),
                    (1, 104.0, ["/ods/events/b"], ["/dwd/p1"])],
            "dwm": [(0, 106.0, ["/dwd/p0", "/dwd/p1"], [])],
            "dws": [(0, 103.0, ["/dwd/p0"], []), (1, 109.0, ["/dwd/p1"], [])],
        }
        lat, missing = metrics.stream_latencies(landed, batches, self.readers)
        self.assertEqual(lat, {"/ods/events/a": 6.0, "/ods/events/b": 8.0})
        self.assertEqual(missing, [])

    def test_a_reader_that_never_took_a_file_is_reported(self):
        landed = {"/ods/events/a": 0.0, "/ods/orders/o": 0.0}
        batches = {"dwd": [(0, 1.0, ["/ods/events/a"], ["/dwd/p0"])],
                   "dwm": [(0, 2.0, ["/dwd/p0"], [])], "dws": [], "prov": []}
        lat, missing = metrics.stream_latencies(landed, batches, self.readers)
        self.assertEqual(lat, {"/ods/events/a": 2.0})
        self.assertEqual(missing, [("/ods/events/a", "dws"), ("/ods/orders/o", "prov")])

    def test_a_file_only_one_branch_reads(self):
        landed = {"/ods/orders/o": 10.0}
        batches = {"dwd": [], "dwm": [], "dws": [],
                   "prov": [(0, 10.5, ["/ods/orders/o"], []), (1, 30.0, [], [])]}
        lat, _ = metrics.stream_latencies(landed, batches, self.readers)
        self.assertEqual(lat, {"/ods/orders/o": 0.5})


class Digest(unittest.TestCase):
    def test_digest_ignores_row_and_column_order(self):
        a = metrics.result_digest(["b", "a"], [(1, "x"), (2, "y")])
        b = metrics.result_digest(["a", "b"], [("y", 2), ("x", 1)])
        self.assertEqual(a, b)

    def test_numbers_compare_as_doubles(self):
        self.assertEqual(metrics.canon_value(3), metrics.canon_value(3.0))
        self.assertEqual(metrics.canon_value(Decimal("3.00")), metrics.canon_value(3))
        self.assertEqual(metrics.canon_value(-0.0), metrics.canon_value(0))
        self.assertEqual(metrics.canon_value(Decimal("0.10")), metrics.canon_value(0.1))
        self.assertNotEqual(metrics.canon_value(0.1), metrics.canon_value(0.1 + 1e-16))
        self.assertEqual(metrics.canon_value(float("nan")), "nan")

    def test_values_the_jvm_renders_the_same_way(self):
        # the JVM side (Canon.scala) renders these exact strings
        self.assertEqual(metrics.canon_value(1.5), "d3ff8000000000000")
        self.assertEqual(metrics.canon_value(None), "∅")
        self.assertEqual(metrics.canon_value(datetime(1970, 1, 1, 0, 0, 1)), "t1000000")
        self.assertEqual(metrics.canon_value([1, "a"]), "[1,sa]")
        self.assertEqual(metrics.canon_value(2 ** 60), str(2 ** 60))

    def test_duplicates_change_the_digest(self):
        one = metrics.result_digest(["a"], [(1,)])
        two = metrics.result_digest(["a"], [(1,), (1,)])
        self.assertNotEqual(one, two)


def _tree_digest(root):
    h = hashlib.sha256()
    for name in sorted(os.listdir(root)):
        h.update(name.encode())
        with open(os.path.join(root, name), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


class GeneratorDeterminism(unittest.TestCase):
    def test_same_seed_gives_byte_identical_tables(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b, \
                tempfile.TemporaryDirectory() as c:
            gen.write_tables(a, 7)
            gen.write_tables(b, 7)
            gen.write_tables(c, 8)
            self.assertEqual(_tree_digest(a), _tree_digest(b))
            self.assertNotEqual(_tree_digest(a), _tree_digest(c))

    def test_same_seed_gives_byte_identical_stream_files(self):
        one = streambench.make_files(11, 4)
        two = streambench.make_files(11, 4)
        other = streambench.make_files(12, 4)
        self.assertEqual([f["body"] for f in one], [f["body"] for f in two])
        self.assertEqual([f["name"] for f in one], [f["name"] for f in two])
        self.assertNotEqual([f["body"] for f in one], [f["body"] for f in other])

    def test_stream_event_time_follows_the_schedule(self):
        files = streambench.make_files(3, 4)
        nominal = [f for f in files if f["phase"] == "nominal" and f["kind"] == "events"]
        self.assertEqual([f["offset"] for f in nominal],
                         sorted(f["offset"] for f in nominal))
        first = nominal[0]["body"].split(b"\n")[0]
        self.assertIn(b'"ts": "2024-03-01T00:', first)

    def test_user_keys_are_skewed(self):
        import numpy as np
        plan = gen.StreamPlan(5)
        keys = plan._zipf(np.random.default_rng(0), 20000, gen.STREAM_USERS)
        counts = np.bincount(keys, minlength=gen.STREAM_USERS)
        self.assertGreater(counts[0], 20 * np.median(counts))


if __name__ == "__main__":
    unittest.main()
