"""Unit tests of the benchmark's statistics.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import unittest

import stats


class PercentileTest(unittest.TestCase):
    def test_interpolates_between_ranks(self):
        value, n, _, _ = stats.percentile([4, 1, 3, 2], 50)
        self.assertEqual((value, n), (2.5, 4))
        self.assertEqual(stats.percentile([10, 20], 90)[0], 19.0)

    def test_single_and_empty(self):
        self.assertEqual(stats.percentile([7], 90)[:2], (7, 1))
        self.assertEqual(stats.percentile([], 50), (None, 0, 0, False))

    def test_needs_ten_samples_beyond(self):
        # p90 of 100 samples sits at rank 89.1: ten samples lie above it
        value, n, beyond, enough = stats.percentile(range(100), 90)
        self.assertAlmostEqual(value, 89.1)
        self.assertEqual((n, beyond, enough), (100, 10, True))
        # 91 samples: rank 81 exactly, nine above it
        self.assertEqual(stats.percentile(range(91), 90)[2:], (9, False))
        self.assertTrue(stats.percentile(range(92), 90)[3])
        # p50 needs 20 samples
        self.assertTrue(stats.percentile(range(20), 50)[3])
        self.assertFalse(stats.percentile(range(19), 50)[3])

    def test_order_does_not_matter(self):
        xs = [5.0, 1.0, 9.0, 3.0, 7.0]
        self.assertEqual(stats.percentile(xs, 90),
                         stats.percentile(sorted(xs), 90))


def span(i, parent, start, end, name="s", op=1):
    return {"id": i, "parent": parent, "name": name, "op": op,
            "start_us": start, "end_us": end}


class SelfTimeTest(unittest.TestCase):
    def test_leaf_is_its_duration(self):
        self.assertEqual(stats.self_times([span(1, 0, 10, 30)]), {1: 20})

    def test_children_are_subtracted(self):
        got = stats.self_times([span(1, 0, 0, 100), span(2, 1, 10, 30),
                                span(3, 1, 50, 60)])
        self.assertEqual(got, {1: 70, 2: 20, 3: 10})

    def test_overlapping_children_count_once(self):
        # two concurrent jobs under one action
        got = stats.self_times([span(1, 0, 0, 100), span(2, 1, 10, 50),
                                span(3, 1, 30, 70)])
        self.assertEqual(got[1], 40)

    def test_children_are_clipped_to_the_parent(self):
        # listener times have ms resolution and may overhang the parent
        got = stats.self_times([span(1, 0, 100, 200), span(2, 1, 90, 150),
                                span(3, 1, 180, 260)])
        self.assertEqual(got[1], 30)

    def test_grandchildren_only_reduce_their_parent(self):
        got = stats.self_times([span(1, 0, 0, 100), span(2, 1, 0, 50),
                                span(3, 2, 0, 50)])
        self.assertEqual(got, {1: 50, 2: 0, 3: 50})


def op(label, batch, ms, kind="query"):
    return {"kind": kind, "label": label, "batch": batch,
            "latency_ms": ms, "service_ms": ms}


OLAP = {"workload": "olap_gpx"}
INGEST = {"workload": "ingest"}


class PassesTest(unittest.TestCase):
    def test_cut_pass_is_dropped(self):
        ops = [op("a", 0, 1), op("b", 0, 2), op("a", 1, 3), op("b", 1, 4),
               op("a", 2, 5)]
        self.assertEqual(
            [o["batch"] for o in stats.complete_passes(OLAP, ops)], [0, 0, 1, 1])

    def test_open_loop_keeps_everything(self):
        ops = [op("append", 1, 1, "append"), op("lookup", 2, 2, "lookup")]
        self.assertEqual(stats.complete_passes(INGEST, ops), ops)

    def test_batch_is_the_sum_of_label_medians(self):
        ops = [op("a", 0, 10), op("b", 0, 100), op("a", 1, 30),
               op("b", 1, 300), op("a", 2, 20), op("b", 2, 200)]
        self.assertAlmostEqual(stats.batch_s(OLAP, ops)[0], 0.22)


class IngestClassesTest(unittest.TestCase):
    OPS = [op(k, 1, ms, k) for k, ms in [
        ("append", 900), ("lookup", 100), ("aggregate", 300),
        ("merge", 1200), ("lookup", 300), ("aggregate", 500),
        ("delete", 400), ("lookup", 200), ("aggregate", 400),
        ("compact", 60)]]

    def test_batch_is_the_write_work_of_a_round(self):
        self.assertAlmostEqual(stats.batch_s(INGEST, self.OPS)[0], 2.56)

    def test_latency_is_the_aggregates_and_rate_the_lookups(self):
        q = stats.query_stats(INGEST, self.OPS)
        self.assertEqual(q["query_p50_ms"][:2], (400, 3))
        self.assertAlmostEqual(q["queries_per_s"], 5.0)


class CountsTest(unittest.TestCase):
    def test_final_check_counts_as_an_attempt(self):
        ops = [{"ok": True}, {"ok": False}]
        self.assertEqual(stats.counts({"ops": ops, "final_check": None}), (2, 1))
        self.assertEqual(stats.counts({"ops": ops, "final_check": False}), (3, 2))
        self.assertEqual(stats.counts({"ops": [], "final_check": None}), (1, 0))


if __name__ == "__main__":
    unittest.main()
