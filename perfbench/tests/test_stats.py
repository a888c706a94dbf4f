"""Tests for the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
from pb import hotelgen, metrics, stats  # noqa: E402


class TailTest(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        # 100 samples 1..100: p90 is the 90th sample, 10 samples beyond it
        self.assertEqual(stats.tail(range(1, 101)), (90, 90, 100))

    def test_every_choice_leaves_ten_beyond(self):
        for n in range(21, 400):
            xs = list(range(n))
            value, q, count = stats.tail(xs)
            self.assertEqual(count, n)
            self.assertGreaterEqual(sum(x > value for x in xs), 10, n)
            # and the next percentile up would not
            if q < 99:
                nxt = xs[-(-(q + 1) * n // 100) - 1]
                self.assertLess(sum(x > nxt for x in xs), 10, n)

    def test_small_samples_fall_back_to_the_slowest(self):
        self.assertEqual(stats.tail([5, 1, 3]), (5, 100, 3))
        self.assertEqual(stats.tail(range(20)), (19, 100, 20))
        # 21 samples: p52 is the 11th, with 10 beyond it
        self.assertEqual(stats.tail(range(21)), (10, 52, 21))

    def test_order_does_not_matter(self):
        self.assertEqual(stats.tail([3, 1, 2] * 10), stats.tail(sorted([3, 1, 2] * 10)))


class SelfTimeTest(unittest.TestCase):
    def test_union_counts_overlap_once(self):
        self.assertEqual(stats.union_length([(0, 4), (2, 6), (8, 9)]), 7)

    def test_nested_and_touching(self):
        self.assertEqual(stats.union_length([(0, 10), (2, 3), (10, 12)]), 12)

    def test_self_time_subtracts_union_of_children(self):
        self.assertEqual(stats.self_time(0, 10, [(1, 4), (3, 5), (7, 8)]), 5)

    def test_children_are_clipped_to_parent(self):
        # an asynchronous child outliving its parent removes only the overlap
        self.assertEqual(stats.self_time(0, 10, [(8, 15), (-5, 1)]), 7)

    def test_no_children(self):
        self.assertEqual(stats.self_time(2, 5, []), 3)

    def test_span_tree_self_time(self):
        raw = {"setups": [], "calls": [
            {"id": "q0", "name": "q", "layer": "engine", "start_ms": 0, "end_ms": 100}],
            "jobs": [{"id": 1, "call": "q0", "batch": None, "stage_ids": [1, 2],
                      "start_ms": 10, "end_ms": 60}],
            "stages": [{"id": 1, "attempt": 0, "submit_ms": 10, "complete_ms": 40},
                       {"id": 2, "attempt": 0, "submit_ms": 30, "complete_ms": 60}]}
        by = {s["id"]: s for s in metrics.spans(raw, "r")}
        self.assertEqual(by["q0"]["self_ms"], 50)
        self.assertEqual(by["job1"]["self_ms"], 0)
        self.assertEqual(by["stage1.0"]["parent"], "job1")
        self.assertEqual(by["run"]["self_ms"], 0)


class DriverOnlyTest(unittest.TestCase):
    def test_overlapping_stages_count_once(self):
        # call 0..10 s, stages 1..5 and 3..6 overlap: 5 s on executors
        self.assertEqual(stats.driver_only(0, 10, [(1, 5), (3, 6)]), 5)

    def test_stage_outside_call_is_ignored(self):
        self.assertEqual(stats.driver_only(0, 10, [(12, 20)]), 10)

    def test_fully_covered_call(self):
        self.assertEqual(stats.driver_only(0, 10, [(0, 6), (5, 10)]), 0)


class OpenLoopTest(unittest.TestCase):
    def test_lateness_against_schedule(self):
        self.assertEqual(stats.drop_lateness([0, 1, 2], [0.5, 1.0, 2.25]), [0.5, 0.0, 0.25])

    def test_early_drop_is_not_negative_lateness(self):
        self.assertEqual(stats.drop_lateness([5], [4.9]), [0.0])

    def test_freshness_is_timed_from_the_scheduled_drop(self):
        # day b was dropped 2 s late and committed 0.5 s after the drop:
        # its freshness includes the 2 s the generator stalled
        due = {"a": 0.0, "b": 1.0}
        committed = {"a": 0.5, "b": 3.5}
        self.assertEqual(stats.freshness(due, committed), {"a": 0.5, "b": 2.5})

    def test_uncommitted_day_has_no_sample(self):
        self.assertEqual(stats.freshness({"a": 0.0, "b": 1.0}, {"a": 0.4}), {"a": 0.4})


class BatchSamplesTest(unittest.TestCase):
    def test_passes_feed_different_metrics(self):
        raw = {"calls": [
            {"pass": 1, "start_ms": 0, "end_ms": 3000},
            {"pass": 1, "start_ms": 3000, "end_ms": 4000},
            {"pass": 2, "start_ms": 5000, "end_ms": 7000},
            {"pass": 2, "start_ms": 7000, "end_ms": 7500}]}
        self.assertEqual(metrics.batch_samples(raw),
                         {"total": 4.0, "latency": [3.0, 1.0], "query": [2.0, 0.5]})


class StreamSamplesTest(unittest.TestCase):
    def test_warm_days_are_checked_but_not_sampled(self):
        import tempfile
        days = [f"year=2017/month=9/day={d}" for d in (1, 2, 3)]
        with tempfile.TemporaryDirectory() as ckpt:
            os.makedirs(os.path.join(ckpt, "sources", "0"))
            with open(os.path.join(ckpt, "sources", "0", "0"), "w") as fh:
                fh.write("v1\n")
                for b, day in enumerate(days, start=1):
                    fh.write(json.dumps({"path": f"file:/w/{day}/part-0.parquet",
                                         "batchId": b}) + "\n")
            # batch 0 is the backfill; day i lands in batch i, 400 ms after its drop
            raw = {"stream": {
                "start_ms": 0,
                "batches": [{"batch": b, "start_ms": 1000 * b, "input_rows": 10,
                             "duration_ms": {"triggerExecution": 400}}
                            for b in range(4)],
                "drops": [{"day": day, "due_ms": 1000 * i, "at_ms": 1000 * i}
                          for i, day in enumerate(days, start=1)],
                "reads": [{"id": f"r{i}", "start_ms": 1000 * i + 400,
                           "end_ms": 1000 * i + 700 + 100 * i, "error": None}
                          for i in range(3)]}}
            view = metrics.stream_view(raw, ckpt, backfill_rows=10, warm_days=1)
        def ms(xs):
            return [round(x * 1000) for x in xs]
        self.assertEqual(ms(view["fresh"].values()), [400, 400, 400])
        samples = metrics.stream_samples(raw, view)
        self.assertEqual(ms([samples["total"]]), [400])
        self.assertEqual(ms(samples["latency"]), [400, 400])
        self.assertEqual(ms(samples["query"]), [400, 500])


class HotelShapeTest(unittest.TestCase):
    def test_calendar_keeps_the_reference_shape(self):
        import numpy as np
        for seed in range(1, 6):
            rng = np.random.default_rng(seed)
            sizes = hotelgen._city_sizes(rng)
            hotelgen._hotels(rng, sizes)
            calendar = hotelgen._calendar(rng, sizes, len(hotelgen.days()))
            facts = hotelgen.shape([{"rows": int(sum(sizes[c] for c in cities)),
                                     "city_hotels": {c: int(sizes[c]) for c in cities}}
                                    for cities in calendar])
            self.assertLessEqual(abs(facts["groups"] - 4324), 0.05 * 4324)
            self.assertLessEqual(abs(facts["rows"] - 13330), 0.10 * 13330)
            self.assertGreaterEqual(facts["rows_min"], 34)
            self.assertLessEqual(facts["rows_max"], 644)
            self.assertEqual(facts["top10"], [453, 243, 211, 165, 87, 19, 6, 6, 5, 5])
            self.assertEqual(sizes.sum(), 2331)
            self.assertEqual(len(sizes), 767)


class DeclaredMetricsTest(unittest.TestCase):
    def test_benchmark_json_lists_what_run_py_prints(self):
        path = os.path.join(os.path.dirname(__file__), "..", "..", "BENCHMARK.json")
        with open(path) as fh:
            declared = json.load(fh)
        self.assertEqual([(m["name"], m["unit"], m["better"], m["bound"])
                          for m in declared["end_to_end"]], metrics.END_TO_END)
        self.assertEqual([(m["name"], m["unit"], m["better"])
                          for m in declared["per_layer"]], metrics.per_layer_spec())


if __name__ == "__main__":
    unittest.main()
