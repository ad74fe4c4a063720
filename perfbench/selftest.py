#!/usr/bin/env python3
"""Self-tests of the benchmark's own logic (no JVM, no program build).

    python3 perfbench/selftest.py
"""
import json
import os
import sys
import unittest

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import checks  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


class Percentiles(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 50), 50)
        self.assertEqual(stats.percentile(xs, 99), 99)
        self.assertEqual(stats.percentile(list(reversed(xs)), 90), 90)
        self.assertEqual(stats.percentile([7], 99), 7)

    def test_tail_needs_ten_samples_beyond(self):
        self.assertEqual(stats.tail_rank(100_000), 90.0)  # the ladder's top
        self.assertEqual(stats.tail_rank(100), 90.0)      # 10 beyond p90
        self.assertEqual(stats.tail_rank(99), 75.0)       # only 9 beyond p90
        self.assertEqual(stats.tail_rank(40), 75.0)
        self.assertEqual(stats.tail_rank(39), 50.0)
        self.assertEqual(stats.tail_rank(20), 50.0)
        self.assertIsNone(stats.tail_rank(19))

    def test_summary_reports_sample_count(self):
        s = stats.summarize([float(i) for i in range(1, 2001)])
        self.assertEqual(s["n"], 2000)
        self.assertEqual(s["p50"], 1000.0)
        self.assertEqual(s["tail_pct"], 90.0)
        self.assertEqual(s["tail"], 1800.0)
        s = stats.summarize([1.0] * 40)
        self.assertEqual((s["n"], s["tail_pct"]), (40, 75.0))


class OpenLoopLatency(unittest.TestCase):
    def test_measured_from_due_time_not_send_time(self):
        # the sender stalls for 50 ms: messages due at 0, 1, 2 ms go out
        # at 50 ms and commit at 60 ms. Their latency includes the stall.
        t0, rate = 1_000_000, 1000.0
        dues = [t0 + int(k * 1e6 / rate) for k in range(3)]
        sent = t0 + 50_000
        commit = t0 + 60_000
        lat = stats.window_latencies([(commit, dues)], t0, t0 + 10_000)
        self.assertEqual(lat, [60.0, 59.0, 58.0])
        self.assertTrue(all(x > (commit - sent) / 1000.0 for x in lat))

    def test_window_bounds(self):
        lat = stats.window_latencies([(500, [10, 100, 200]), (900, [300, 400])], 100, 400)
        self.assertEqual(lat, [0.4, 0.3, 0.6])


class Digests(unittest.TestCase):
    def setUp(self):
        self.expected = {i: {"id": i, "v": "x" * i} for i in range(5)}
        self.good = [json.dumps(d).encode() for d in self.expected.values()]

    def test_clean_delivery_passes(self):
        self.assertEqual(checks.check_messages(self.expected, self.good)[:2], (5, 0))

    def test_dropped_message_fails(self):
        att, failed, problems = checks.check_messages(self.expected, self.good[1:])
        self.assertEqual((att, failed), (5, 1))
        self.assertIn("1 missing", problems)

    def test_duplicated_message_fails(self):
        att, failed, _ = checks.check_messages(self.expected, self.good + self.good[2:3])
        self.assertEqual((att, failed), (5, 1))

    def test_drop_plus_duplicate_keeps_count_but_not_digest(self):
        swapped = self.good[1:] + self.good[1:2]
        self.assertEqual(len(swapped), len(self.good))
        ref = checks.digest(self.good)
        self.assertNotEqual(checks.digest(swapped), ref)
        self.assertEqual(checks.check_digests(ref, [checks.digest(swapped)]), 1)
        self.assertEqual(checks.check_messages(self.expected, swapped)[1], 2)

    def test_digest_is_order_independent(self):
        self.assertEqual(checks.digest(self.good), checks.digest(list(reversed(self.good))))
        self.assertEqual(checks.check_digests(checks.digest(self.good),
                                              [checks.digest(self.good[::-1])]), 0)

    def test_wrong_content_and_numbers_by_value(self):
        bad = list(self.good)
        bad[3] = json.dumps({"id": 3, "v": "nope"}).encode()
        self.assertEqual(checks.check_messages(self.expected, bad)[1], 1)
        as_float = [json.dumps({"id": 0, "v": "", "n": 3.0}).encode()]
        self.assertEqual(checks.check_messages({0: {"id": 0, "v": "", "n": 3}}, as_float)[1], 0)

    def test_drop_keys(self):
        d = [json.dumps({"due_us": 5, "id": 0, "v": ""}).encode()]
        self.assertEqual(checks.check_messages({0: {"id": 0, "v": ""}}, d, ("due_us",))[1], 0)
        self.assertEqual(checks.check_messages({0: {"id": 0, "v": ""}}, d)[1], 1)


class SpanSelfTime(unittest.TestCase):
    @staticmethod
    def span(i, parent, layer, a, b):
        return {"id": i, "parent": parent, "layer": layer, "name": layer,
                "start_us": a, "end_us": b}

    def test_nested(self):
        s = [self.span(0, -1, "bench", 0, 100), self.span(1, 0, "config", 10, 90),
             self.span(2, 1, "exec", 20, 50), self.span(3, 1, "exec", 60, 70)]
        got = stats.self_times(s, 0)
        self.assertEqual(got, {"unattributed": 20, "config": 40, "exec": 40})
        self.assertEqual(sum(got.values()), 100)

    def test_overlapping_children_still_partition_the_root(self):
        s = [self.span(0, -1, "bench", 0, 100), self.span(1, 0, "exec", 10, 60),
             self.span(2, 0, "catalyst", 40, 80)]
        got = stats.self_times(s, 0)
        self.assertEqual(sum(got.values()), 100)
        self.assertEqual(got, {"unattributed": 30, "exec": 30, "catalyst": 40})

    def test_listener_spans_get_containing_parent(self):
        s = [self.span(0, -1, "bench", 0, 100_000), self.span(1, 0, "config", 10_000, 90_000),
             self.span(2, -2, "exec", 20_000, 91_000)]  # ends 1 ms late
        tree = stats.assign_parents(s)
        self.assertEqual(tree[2]["parent"], 1)
        self.assertEqual(tree[2]["end_us"], 90_000)
        got = stats.self_times(tree, 0)
        self.assertEqual(got, {"unattributed": 20_000, "config": 10_000, "exec": 70_000})


class Inputs(unittest.TestCase):
    def test_seeded(self):
        self.assertEqual(gen.events(7, 50), gen.events(7, 50))
        self.assertNotEqual(gen.events(7, 50), gen.events(8, 50))

    def test_shape(self):
        ev = gen.events(1, 4000)
        sizes = [len(gen.dumps(e)) for e in ev]
        self.assertTrue(150 <= min(sizes) and max(sizes) <= 650, (min(sizes), max(sizes)))
        beat = sum(e["kind"] == "heartbeat" for e in ev) / len(ev)
        self.assertAlmostEqual(beat, 0.2, delta=0.03)
        users = [e["user"] for e in ev]
        self.assertGreater(users.count("u00000"), 10 * users.count("u02000") + 10)


class BenchmarkFile(unittest.TestCase):
    def test_per_layer_metrics_match_the_runner(self):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
            spec = json.load(f)
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]],
                         run.PER_LAYER)
        self.assertEqual(sorted(w["name"] for w in spec["workloads"]), sorted(run.WORKLOADS))
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in spec["end_to_end"]],
                         run.END_TO_END)


if __name__ == "__main__":
    unittest.main()
