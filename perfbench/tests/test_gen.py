"""The seeded generator: same seed, same inputs; another seed, other inputs.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import gen  # noqa: E402


def dump(workload, seed, seconds=10):
    return json.dumps(gen.generate(workload, seed, seconds), sort_keys=True)


class SeedTest(unittest.TestCase):
    def test_same_seed_same_inputs(self):
        for w in gen.WORKLOADS:
            self.assertEqual(dump(w, 7), dump(w, 7), w)

    def test_different_seed_different_inputs(self):
        for w in gen.WORKLOADS:
            if w == "query_pack" and len(gen.QUERY_PACK) < 2:
                continue
            self.assertNotEqual(dump(w, 7), dump(w, 8), w)

    def test_unknown_workload_is_refused(self):
        with self.assertRaises(ValueError):
            gen.generate("nope", 1, 10)


class StratificationTest(unittest.TestCase):
    """The cost-bearing shape of a run does not depend on the seed."""

    def test_pubsub_batch_sizes_per_topic_are_seed_invariant(self):
        a = gen.generate("pubsub_delivery", 1, 10)
        b = gen.generate("pubsub_delivery", 2, 10)
        def shape(c):
            return len(c["events"]), c["topic"], c["warmup"]
        self.assertEqual(sorted(map(shape, a["calls"])), sorted(map(shape, b["calls"])))
        self.assertNotEqual(list(map(shape, a["calls"])), list(map(shape, b["calls"])))
        sizes = [len(c["events"]) for c in a["calls"] if not c["warmup"]]
        self.assertEqual(len(sizes), gen.TIMED_CALLS)
        self.assertGreaterEqual(len(sizes), gen.needed(gen.TAIL["pubsub_delivery"]))
        self.assertTrue(min(sizes) >= 1 and max(sizes) <= gen.MAX_BATCH)
        self.assertGreater(max(sizes), 500)

    def test_pubsub_failures_are_one_percent_of_streamed_events(self):
        g = gen.generate("pubsub_delivery", 3, 10)
        streamed = {e[0] for c in g["calls"] if c["topic"] == g["stream_topic"] for e in c["events"]}
        self.assertTrue(set(g["fail_ids"]) <= streamed)
        self.assertEqual(len(g["fail_ids"]), round(0.01 * len(streamed)))

    def test_log_replay_mix_is_exact_per_block(self):
        ops = gen.generate("log_replay", 4, 10)["ops"]
        for i in range(0, len(ops) - 9, 10):
            kinds = sorted(op[0] for op in ops[i:i + 10])
            self.assertEqual(kinds, ["get"] * 7 + ["save"] + ["scan"] * 2)
        self.assertEqual(len(ops) - gen.WARMUP_OPS, gen.needed(gen.TAIL["log_replay"]))

    def test_query_pack_timed_samples_meet_the_percentile_rule(self):
        g = gen.generate("query_pack", 4, 10)
        timed = len(g["orders"]) - 1 - g["warmup_passes"]
        self.assertGreaterEqual(timed * len(g["queries"]), gen.needed(gen.TAIL["query_pack"]))

    def test_query_pack_orders_are_permutations(self):
        g = gen.generate("query_pack", 5, 10)
        for order in g["orders"]:
            self.assertEqual(sorted(order), list(range(len(g["queries"]))))


if __name__ == "__main__":
    unittest.main()
