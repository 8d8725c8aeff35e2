"""Unit tests for the benchmark's helpers: python3 -m unittest discover -s ingestbench"""

import datetime
import decimal
import unittest

import metrics


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        samples = [(v, 1) for v in range(1, 101)]
        self.assertEqual(metrics.percentile(samples, 50), (50, 100))
        self.assertEqual(metrics.percentile(samples, 99), (99, 100))
        self.assertEqual(metrics.percentile(samples, 100), (100, 100))

    def test_weights_count_as_repeated_samples(self):
        weighted = [(10.0, 3), (20.0, 1)]
        flat = [(10.0, 1)] * 3 + [(20.0, 1)]
        for q in (25, 50, 75, 99):
            self.assertEqual(metrics.percentile(weighted, q), metrics.percentile(flat, q))
        self.assertEqual(metrics.percentile(weighted, 75)[0], 10.0)
        self.assertEqual(metrics.percentile(weighted, 76)[0], 20.0)

    def test_unsorted_input_and_zero_weights(self):
        self.assertEqual(metrics.percentile([(5, 1), (1, 0), (3, 1)], 50), (3, 2))

    def test_empty_is_an_error(self):
        with self.assertRaises(ValueError):
            metrics.percentile([], 50)


class LatencyJoinTest(unittest.TestCase):
    def test_latency_is_commit_minus_stamp(self):
        joined, orphans = metrics.latency_join(
            [(0, 1_000_000, 2), (1, 1_500_000, 1)], {0: 1_250_000, 1: 2_000_000})
        self.assertEqual(joined, [(250.0, 2), (500.0, 1)])
        self.assertEqual(orphans, 0)

    def test_rows_of_uncommitted_batches_are_orphans(self):
        joined, orphans = metrics.latency_join([(0, 0, 4), (7, 0, 3)], {0: 1000})
        self.assertEqual(joined, [(1.0, 4)])
        self.assertEqual(orphans, 3)


class TableHashTest(unittest.TestCase):
    def test_row_and_column_order_do_not_matter(self):
        a = metrics.table_hash(["x", "y"], [(1, "a"), (2, "b")])
        b = metrics.table_hash(["y", "x"], [("b", 2), ("a", 1)])
        self.assertEqual(a, b)

    def test_multiset_not_set(self):
        once = metrics.table_hash(["x"], [(1,), (2,)])
        dup = metrics.table_hash(["x"], [(1,), (1,), (2,)])
        self.assertNotEqual(once, dup)

    def test_values_and_names_matter(self):
        base = metrics.table_hash(["x"], [(1,)])
        self.assertNotEqual(base, metrics.table_hash(["x"], [(2,)]))
        self.assertNotEqual(base, metrics.table_hash(["z"], [(1,)]))

    def test_engine_neutral_values(self):
        # DuckDB may hand back an int, a Decimal or a float for one column.
        self.assertEqual(metrics.canon(3), metrics.canon(3.0))
        self.assertEqual(metrics.canon(decimal.Decimal("0.25")), metrics.canon(0.25))
        self.assertEqual(metrics.canon(0.1 + 0.2), metrics.canon(0.3))
        self.assertNotEqual(metrics.canon(0.3), metrics.canon(0.30001))
        utc = datetime.datetime(2024, 1, 1, 12, tzinfo=datetime.timezone.utc)
        self.assertEqual(metrics.canon(utc), metrics.canon(datetime.datetime(2024, 1, 1, 12)))
        self.assertEqual(metrics.canon([1, None]), "[1,null]")
        self.assertEqual(metrics.canon(2 ** 60), str(2 ** 60))


class SpanTest(unittest.TestCase):
    def test_union_merges_overlaps_and_clips(self):
        self.assertEqual(metrics.union_ms([(0, 2000), (1000, 3000), (5000, 6000)], 0, 10_000), 4.0)
        self.assertEqual(metrics.union_ms([(0, 4000)], 1000, 2000), 1.0)

    def test_self_time_subtracts_children_once(self):
        spans = [
            {"id": 1, "parent": 0, "name": "workload", "start_us": 0, "end_us": 10_000},
            {"id": 2, "parent": 1, "name": "producer.run", "start_us": 1000, "end_us": 9000},
            {"id": 3, "parent": 0, "name": "spark.job", "start_us": 2000, "end_us": 5000},
            {"id": 4, "parent": 0, "name": "spark.job", "start_us": 4000, "end_us": 6000},
        ]
        metrics.resolve_parents(spans)
        self.assertEqual([s["parent"] for s in spans[2:]], [2, 2])
        t = metrics.self_times(spans)
        self.assertEqual(t["workload"], 2.0)
        self.assertEqual(t["producer.run"], 4.0)
        self.assertEqual(t["spark.job"], 5.0)


if __name__ == "__main__":
    unittest.main()
