"""Trace summarizer: self-time arithmetic on a synthetic span tree, the
percentile rule, and trace diffs.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import tracestats as ts  # noqa: E402


def span(id, parent, name, layer, start, end, **attrs):
    return {"id": id, "parent": parent, "req": 1, "name": name, "layer": layer,
            "start_us": start, "end_us": end, "attrs": attrs}


# publish [0, 100ms) with two overlapping Spark jobs [10, 40) and [30, 60),
# a fan-out child [70, 80) and a grandchild job under the fan-out [72, 75).
TREE = [
    span(1, 0, "publishBatch", "broker", 0, 100000),
    span(2, 1, "job", "spark", 10000, 40000, stages=2, tasks=4),
    span(3, 1, "job", "spark", 30000, 60000, stages=1, tasks=1),
    span(4, 1, "fanout", "broker.fanout", 70000, 80000),
    span(5, 4, "job", "spark", 72000, 75000, stages=1, tasks=1),
    span(6, 0, "measure", "phase", 0, 200000),
]


class SelfTimeTest(unittest.TestCase):
    def test_union_merges_overlaps(self):
        self.assertEqual(ts.union_us([(10, 40), (30, 60), (70, 80)]), 60)
        self.assertEqual(ts.union_us([]), 0)

    def test_self_time_subtracts_union_of_direct_children(self):
        kids = ts.children_of(TREE)
        # 100 ms minus [10, 60) and [70, 80): the grandchild is not subtracted twice
        self.assertEqual(ts.self_us(TREE[0], kids), 40000)
        self.assertEqual(ts.self_us(TREE[3], kids), 7000)
        self.assertEqual(ts.self_us(TREE[1], kids), 30000)

    def test_children_are_clipped_to_their_parent(self):
        tree = [span(1, 0, "call", "x", 0, 10), span(2, 1, "job", "spark", 5, 50)]
        self.assertEqual(ts.self_us(tree[0], ts.children_of(tree)), 5)

    def test_summary_per_layer(self):
        s = ts.summarize(TREE)
        self.assertNotIn("phase", s)
        self.assertEqual(s["spark"]["count"], 3)
        self.assertEqual(s["spark"]["total_ms"], 63.0)
        self.assertEqual(s["spark"]["busy_ms"], 53.0)
        self.assertEqual(s["broker"]["self_ms"], 40.0)
        self.assertEqual(s["broker.fanout"]["self_ms"], 7.0)

    def test_broker_parts_add_up_to_publish(self):
        m = ts.layer_metrics("pubsub_delivery", TREE, {}, {"generator_lag_ms": [0.5]})
        total = m["broker.append_ms"][0] + m["broker.fanout_ms"][0] + m["broker.self_ms"][0]
        self.assertAlmostEqual(total, m["broker.publish_ms"][0])
        self.assertEqual(m["broker.append_ms"][0], 50.0)
        self.assertEqual(m["broker.fanout_ms"][0], 10.0)
        self.assertEqual(m["calls"][0], 1)
        self.assertEqual(m["call_driver_ms"][0], 47.0)
        self.assertEqual(m["spark.stages"][0], 4)

    def test_diff_reports_delta_and_ratio(self):
        d = ts.diff({"a": {"self_ms": 10.0}}, {"a": {"self_ms": 5.0}})
        self.assertEqual(d["a.self_ms"]["delta"], -5.0)
        self.assertEqual(d["a.self_ms"]["ratio"], 0.5)


class PercentileRuleTest(unittest.TestCase):
    def test_samples_needed(self):
        self.assertEqual(ts.needed(0.5), 20)
        self.assertEqual(ts.needed(0.9), 100)
        self.assertEqual(ts.needed(0.95), 200)
        self.assertEqual(ts.needed(0.99), 1000)

    def test_highest_supported_percentile(self):
        self.assertIsNone(ts.tail_percentile(19))
        self.assertEqual(ts.tail_percentile(20), 0.5)
        self.assertEqual(ts.tail_percentile(99), 0.75)
        self.assertEqual(ts.tail_percentile(100), 0.9)
        self.assertEqual(ts.tail_percentile(999), 0.95)
        self.assertEqual(ts.tail_percentile(1000), 0.99)

    def test_too_few_samples_fail_loudly(self):
        with self.assertRaises(ts.InsufficientSamples):
            ts.percentile(list(range(99)), 0.9)
        with self.assertRaises(ts.InsufficientSamples):
            ts.median([])

    def test_percentile_values(self):
        xs = list(range(1, 101))
        self.assertAlmostEqual(ts.percentile(xs, 0.5), 50.5)
        self.assertAlmostEqual(ts.percentile(xs, 0.9), 90.1)
        self.assertEqual(ts.median([3, 1, 2]), 2)


if __name__ == "__main__":
    unittest.main()
