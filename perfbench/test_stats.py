"""Tests for the benchmark's own arithmetic (perfbench/stats.py).

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import statistics
import unittest

import stats


def span(id_, name, start, end, parent=-1, op=1):
    return {"id": id_, "name": name, "op": op, "parent": parent,
            "start_s": start, "end_s": end}


class TailTest(unittest.TestCase):
    def test_too_few_samples_has_no_tail(self):
        self.assertIsNone(stats.tail([1.0] * 19))

    def test_twenty_samples_give_the_median_with_ten_beyond(self):
        p, value, beyond, n = stats.tail([float(i) for i in range(1, 21)])
        self.assertEqual((p, value, beyond, n), (50.0, 10.0, 10, 20))

    def test_forty_samples_give_p75(self):
        p, value, beyond, n = stats.tail([float(i) for i in range(1, 41)])
        self.assertEqual((p, value, beyond, n), (75.0, 30.0, 10, 40))

    def test_a_thousand_samples_give_p99(self):
        xs = [float(i) for i in range(1000, 0, -1)]  # order must not matter
        p, value, beyond, n = stats.tail(xs)
        self.assertEqual((p, value, beyond, n), (99.0, 990.0, 10, 1000))

    def test_p90_needs_a_hundred_samples(self):
        self.assertEqual(stats.tail([float(i) for i in range(99)])[0], 75.0)
        self.assertEqual(stats.tail([float(i) for i in range(100)])[0], 90.0)


class SelfTimeTest(unittest.TestCase):
    def test_leaf_self_time_is_its_duration(self):
        self.assertAlmostEqual(stats.self_times([span(0, "match", 1.0, 3.5)])[0], 2.5)

    def test_children_are_subtracted_once_where_they_overlap(self):
        spans = [span(0, "op", 0.0, 10.0),
                 span(1, "match", 1.0, 4.0, parent=0),
                 span(2, "deviation", 3.0, 6.0, parent=0),
                 span(3, "devstore.sync", 8.0, 9.0, parent=0)]
        st = stats.self_times(spans)
        self.assertAlmostEqual(st[0], 10.0 - 5.0 - 1.0)
        self.assertAlmostEqual(st[1], 3.0)

    def test_children_are_clipped_to_the_parent(self):
        spans = [span(0, "op", 2.0, 4.0), span(1, "tiles.assign", 1.0, 3.0, parent=0)]
        self.assertAlmostEqual(stats.self_times(spans)[0], 1.0)


class PerLayerTest(unittest.TestCase):
    def test_layer_time_counts_each_span_once(self):
        op = {"op": 1, "traced": True, "wall_s": 4.0, "items": 1, "error": None,
              "counters": {}}
        raw = {"ops": [op], "groups": {}, "heap_peak_bytes": 0, "run_counters": {},
               "spans": [span(0, "match", 0.0, 2.0), span(1, "elementstore.merge", 2.0, 2.5),
                         span(2, "elementstore.read", 2.5, 3.0)]}
        layer = stats.per_layer(raw)
        self.assertAlmostEqual(layer["match.busy_s"], 2.0)
        self.assertAlmostEqual(layer["share.match"], 0.5)
        self.assertAlmostEqual(layer["elementstore.merge_s"], 0.5)
        self.assertAlmostEqual(layer["share.elementstore"], 0.25)


class FailedCountTest(unittest.TestCase):
    def test_errors_count_against_attempted(self):
        ops = [{"error": None}, {"error": "counts differ"}, {"error": None}]
        self.assertEqual(stats.failed_counts(ops, None), (1, 3))

    def test_failed_end_check_fails_the_last_op(self):
        ops = [{"error": None}, {"error": None}]
        self.assertEqual(stats.failed_counts(ops, "store differs"), (1, 2))

    def test_failed_end_check_is_not_counted_twice(self):
        ops = [{"error": None}, {"error": "threw"}]
        self.assertEqual(stats.failed_counts(ops, "store differs"), (1, 2))

    def test_failed_ratio_is_failed_over_attempted(self):
        raw = {"ops": [{"traced": False, "wall_s": 1.0, "items": 3, "error": e}
                       for e in (None, "x", None, None)],
               "setup_s": 2.0, "heap_peak_bytes": 2 ** 20, "final_error": None}
        e2e = stats.end_to_end(raw)
        self.assertEqual((e2e["failed"], e2e["attempted"]), (1, 4))
        self.assertAlmostEqual(e2e["failed_ratio"], 0.25)


class RatioTest(unittest.TestCase):
    def test_write_amp_keeps_its_base(self):
        self.assertEqual(stats.write_amp(1200, 300), (4.0, 300))

    def test_refine_yield_is_refined_over_candidate_pairs(self):
        self.assertEqual(stats.refine_yield(250, 1000), (0.25, 1000))

    def test_per_layer_refine_yield_uses_the_pairs_before_the_condition(self):
        op = {"op": 1, "traced": True, "wall_s": 1.0, "items": 1, "error": None,
              "counters": {"match.candidate_pairs": 800, "match.refined_pairs": 200,
                           "match.rows_out": 50}}
        raw = {"ops": [op], "groups": {}, "heap_peak_bytes": 0, "run_counters": {},
               "spans": []}
        self.assertAlmostEqual(stats.per_layer(raw)["match.refine_yield"], 0.25)

    def test_set_up_op_feeds_its_layers_but_not_the_traced_op_time(self):
        def op(i, traced, wall, counters, setup=False):
            return {"op": i, "traced": traced, "setup": setup, "wall_s": wall, "items": 1,
                    "error": None, "counters": counters}
        raw = {"ops": [op(0, True, 10.0, {"match.rows_out": 7}, setup=True),
                       op(1, True, 2.0, {"tiles.tiles_out": 3}),
                       op(2, False, 1.5, {}),
                       op(3, True, 2.4, {"tiles.tiles_out": 3})],
               "groups": {}, "heap_peak_bytes": 0, "run_counters": {},
               "spans": [span(0, "match", 0.0, 5.0, op=0), span(1, "tiles.encode", 0.0, 1.0, op=1),
                         span(2, "tiles.encode", 0.0, 1.2, op=3)]}
        layer = stats.per_layer(raw)
        # medians over the ops that report a metric, not over every traced op
        self.assertEqual(layer["match.rows_out"], 7)
        self.assertEqual(layer["tiles.tiles_out"], 3)
        self.assertAlmostEqual(layer["share.match"], 0.5)
        self.assertAlmostEqual(layer["share.tiles"], 0.5)
        self.assertEqual(layer["share.devstore"], 0.0)
        # the set-up op is not a timed op
        self.assertAlmostEqual(layer["trace.op_s"], 2.2)
        self.assertAlmostEqual(layer["trace.overhead_s"], 0.7)

    def test_zero_base_gives_zero_not_an_error(self):
        self.assertEqual(stats.write_amp(1200, 0), (0.0, 0))


class EndToEndTest(unittest.TestCase):
    def test_medians_and_throughput_use_untraced_ops_only(self):
        ops = [{"traced": False, "wall_s": w, "items": 10, "error": None} for w in (1.0, 2.0, 4.0)]
        ops.append({"traced": True, "wall_s": 100.0, "items": 10, "error": None})
        raw = {"ops": ops, "setup_s": 6.0, "heap_peak_bytes": 3 * 2 ** 20,
               "final_error": None}
        e2e = stats.end_to_end(raw)
        self.assertEqual(e2e["op_s"], 2.0)
        self.assertEqual(e2e["setup_s"], 6.0)
        # per-op rates 10, 5 and 2.5 items/s
        self.assertAlmostEqual(e2e["items_per_s"], 5.0)
        self.assertAlmostEqual(e2e["heap_peak_mb"], 3.0)
        self.assertEqual(e2e["ops"], 3)


class SpreadTest(unittest.TestCase):
    def test_spread_is_interquartile_distance_over_median(self):
        xs = [10.0, 11.0, 9.0, 10.5, 9.5, 10.2, 9.8, 10.1, 9.9, 10.0]
        q1, _, q3 = statistics.quantiles(xs, n=4)
        self.assertAlmostEqual(stats.spread(xs), (q3 - q1) / statistics.median(xs))


if __name__ == "__main__":
    unittest.main()
