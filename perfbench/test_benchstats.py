"""Tests of the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import json
import os
import unittest

import benchstats as bs

HERE = os.path.dirname(os.path.abspath(__file__))


def span(i, parent, start, end, name="x"):
    return {"id": i, "parent": parent, "op": i, "name": name, "start_ns": start, "end_ns": end}


class SelfTime(unittest.TestCase):
    def test_leaf_self_time_is_its_duration(self):
        self.assertAlmostEqual(bs.self_times([span(1, 0, 0, 2_000_000_000)])[1], 2.0)

    def test_children_are_subtracted(self):
        st = bs.self_times([span(1, 0, 0, 10), span(2, 1, 1, 3), span(3, 1, 5, 9)])
        self.assertEqual(st[1], (10 - 2 - 4) / 1e9)
        self.assertEqual(st[2], 2 / 1e9)

    def test_overlapping_children_count_once(self):
        # two concurrent children covering [2, 8) leave 4 of 10 to the parent
        st = bs.self_times([span(1, 0, 0, 10), span(2, 1, 2, 6), span(3, 1, 4, 8)])
        self.assertEqual(st[1], 4 / 1e9)

    def test_children_are_clipped_to_the_parent(self):
        st = bs.self_times([span(1, 0, 10, 20), span(2, 1, 5, 15), span(3, 1, 18, 30)])
        self.assertEqual(st[1], (10 - 5 - 2) / 1e9)

    def test_grandchildren_only_reduce_their_parent(self):
        st = bs.self_times([span(1, 0, 0, 10), span(2, 1, 0, 6), span(3, 2, 1, 5)])
        self.assertEqual(st[1], 4 / 1e9)
        self.assertEqual(st[2], 2 / 1e9)

    def test_by_name_aggregates(self):
        agg = bs.self_time_by_name([span(1, 0, 0, 10, "load"), span(2, 1, 0, 4, "panel"),
                                    span(3, 1, 4, 6, "panel")])
        self.assertEqual(agg["panel"][0], 2)
        self.assertAlmostEqual(agg["load"][2], 4 / 1e9)


class Percentiles(unittest.TestCase):
    def test_nearest_rank(self):
        v = list(range(1, 101))
        self.assertEqual(bs.percentile(v, 90), 90)
        self.assertEqual(bs.percentile(v, 99), 99)
        self.assertEqual(bs.percentile([5, 1, 3], 50), 3)
        self.assertEqual(bs.percentile([7], 90), 7)

    def test_order_does_not_matter(self):
        self.assertEqual(bs.percentile([3, 9, 1, 7, 5], 90), bs.percentile([1, 3, 5, 7, 9], 90))

    def test_median_interpolates(self):
        self.assertEqual(bs.median([1, 2, 3, 4]), 2.5)

    def test_tail_needs_ten_samples_beyond(self):
        self.assertIsNone(bs.max_tail(19))
        self.assertEqual(bs.max_tail(20), 50.0)
        self.assertEqual(bs.max_tail(99), 50.0)
        self.assertEqual(bs.max_tail(100), 90.0)
        self.assertEqual(bs.max_tail(999), 90.0)
        self.assertEqual(bs.max_tail(1000), 99.0)

    def test_empty_is_an_error(self):
        with self.assertRaises(ValueError):
            bs.percentile([], 50)


class Digests(unittest.TestCase):
    def test_row_order_is_ignored(self):
        self.assertEqual(bs.digest([[1, "a"], [2, "b"]]), bs.digest([[2, "b"], [1, "a"]]))

    def test_column_order_is_not(self):
        self.assertNotEqual(bs.digest([[1, 2]]), bs.digest([[2, 1]]))

    def test_doubles_compare_to_twelve_digits(self):
        self.assertEqual(bs.digest([[0.1 + 0.2]]), bs.digest([[0.3]]))
        self.assertNotEqual(bs.digest([[0.3]]), bs.digest([[0.3000001]]))

    def test_types_are_distinguished(self):
        self.assertNotEqual(bs.digest([[1]]), bs.digest([[1.0]]))
        self.assertNotEqual(bs.digest([[1]]), bs.digest([["1"]]))
        self.assertNotEqual(bs.digest([[None]]), bs.digest([["n"]]))

    def test_duplicates_and_row_count_matter(self):
        self.assertNotEqual(bs.digest([[1]]), bs.digest([[1], [1]]))
        self.assertNotEqual(bs.digest([]), bs.digest([[]]))

    def test_integers_are_exact(self):
        self.assertNotEqual(bs.digest([[2 ** 53]]), bs.digest([[2 ** 53 + 1]]))


class Accounting(unittest.TestCase):
    def test_wrong_answer_is_a_failed_operation(self):
        ops = [{"kind": "panel", "name": "m_top_src_port", "actual": [[80, 3, 100]],
                "expected": [[80, 3, 100]]},
               {"kind": "panel", "name": "m_top_dst_port", "actual": [[443, 2, 99]],
                "expected": [[443, 2, 100]]}]
        attempted, failed, notes = bs.account(ops)
        self.assertEqual((attempted, failed), (2, 1))
        self.assertIn("m_top_dst_port", notes[0])

    def test_missing_row_is_a_failed_operation(self):
        self.assertTrue(bs.op_failed({"actual": [[1]], "expected": [[1], [2]]}))

    def test_reordered_answer_is_not(self):
        self.assertFalse(bs.op_failed({"actual": [[2], [1]], "expected": [[1], [2]]}))

    def test_marked_operations(self):
        _, failed, _ = bs.account([{"kind": "probe", "ok": True}, {"kind": "drain", "ok": False}])
        self.assertEqual(failed, 1)


class Metrics(unittest.TestCase):
    RAW = {
        "samples": {"setup_unit_s": [3.0, 1.0, 2.0], "freshness_s": [1.0, 2.0, 3.0, 4.0],
                    "dashboard_load_s": [0.5, 0.7], "ingest_rows_per_s": [10.0, 30.0, 20.0]},
        "scalars": {"stored_bytes_per_row": 17.5, "live_heap_peak_mb": 100.0},
    }

    def test_end_to_end(self):
        m = bs.end_to_end(self.RAW)
        self.assertEqual(m["setup_s"], 2.0)
        self.assertEqual(m["ingest_rows_per_s"], 20.0)
        self.assertEqual(m["freshness_p50_s"], 2.5)
        self.assertEqual(m["freshness_p90_s"], 4.0)
        self.assertEqual(m["dashboard_load_p90_s"], 0.7)
        self.assertEqual(set(m), {k for k, _ in bs.END_TO_END})

    def test_per_layer_reports_every_metric(self):
        m = bs.per_layer(self.RAW, 0.0)
        self.assertEqual(set(m), {k for k, _ in bs.PER_LAYER})

    def test_metric_lists_match_benchmark_json(self):
        path = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")
        if not os.path.exists(path):
            self.skipTest("no BENCHMARK.json next to the benchmark")
        with open(path) as f:
            spec = json.load(f)
        self.assertEqual([(m["name"], m["unit"]) for m in spec["end_to_end"]], list(bs.END_TO_END))
        self.assertEqual([(m["name"], m["unit"]) for m in spec["per_layer"]], list(bs.PER_LAYER))


if __name__ == "__main__":
    unittest.main()
