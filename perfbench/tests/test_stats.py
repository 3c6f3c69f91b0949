"""Self-tests for the harness maths in perfbench/stats.py and the verdicts of
perfbench/compare.py.

    python3 -m unittest discover -s perfbench/tests -p 'test_stats.py'
"""
import contextlib
import io
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import compare  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


class Percentiles(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 0.5), 50)
        self.assertEqual(stats.percentile(xs, 0.9), 90)
        self.assertEqual(stats.percentile(xs, 0.99), 99)
        self.assertEqual(stats.percentile([7], 0.99), 7)

    def test_tail_leaves_ten_samples_beyond(self):
        for n in (20, 25, 40, 100, 101, 250, 999, 1000, 30000):
            q = stats.tail_q(n)
            xs = list(range(n))
            p = stats.percentile(xs, q)
            beyond = sum(1 for x in xs if x > p)
            self.assertGreaterEqual(beyond, 10, n)
            # one whole percent higher would leave fewer than ten, or pass p99
            if q < 0.99:
                higher = stats.percentile(xs, q + 0.01)
                self.assertLess(sum(1 for x in xs if x > higher), 10, n)
        self.assertEqual(stats.tail_q(100), 0.9)
        self.assertEqual(stats.tail_q(1000), 0.99)
        self.assertEqual(stats.tail_q(30000), 0.99)

    def test_tail_falls_back_to_median(self):
        self.assertEqual(stats.tail_q(9), 0.5)
        self.assertEqual(stats.tail_q(19), 0.5)

    def test_median_and_quartiles(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 2, 3]), 2.5)
        q1, med, q3 = stats.quartiles([1, 2, 3, 4, 5, 6, 7, 8, 9, 10])
        self.assertEqual((q1, med, q3), (2.75, 5.5, 8.25))


class Spans(unittest.TestCase):
    def test_union_merges_and_clips(self):
        self.assertEqual(stats.union_ms([(1, 3), (2, 5), (8, 12)], 0, 10), 6)
        self.assertEqual(stats.union_ms([]), 0)
        self.assertEqual(stats.union_ms([(0, 1), (1, 2)]), 2)

    def test_self_time(self):
        spans = [
            {"key": "run", "parent": "", "start": 0, "end": 100},
            {"key": "q1", "parent": "run", "start": 0, "end": 10},
            {"key": "q2", "parent": "run", "start": 20, "end": 40},
            {"key": "j1", "parent": "q1", "start": 1, "end": 3},
            {"key": "j2", "parent": "q1", "start": 2, "end": 5},
            {"key": "j3", "parent": "q1", "start": 8, "end": 12},
        ]
        st = stats.self_times(spans)
        self.assertEqual(st["run"], 70)
        self.assertEqual(st["q1"], 4)   # 10 - |[1,5] + [8,10]|
        self.assertEqual(st["q2"], 20)
        self.assertEqual(st["j3"], 4)


class OpenLoop(unittest.TestCase):
    def test_due_time_latency(self):
        # one record per ms from t0 = 1000; a record without a batch is skipped
        lat = stats.due_latencies(1000.0, 1000.0, [0, 0, 1, -1, 2],
                                  {0: 1010.0, 1: 1020.0})
        self.assertEqual(lat, [10.0, 9.0, 18.0])

    def test_stall_is_charged_to_later_records(self):
        # a batch that commits late charges every record due before it
        lat = stats.due_latencies(0.0, 100.0, [0] * 10, {0: 500.0})
        self.assertEqual(lat, [500.0 - 10 * j for j in range(10)])

    def test_backlog_and_batch_rows(self):
        # (due, published at, published so far); batches read 10 and 20 rows
        raw = {"t0": 0.0, "t1": 100.0, "published": [(0, 0, 10), (50, 50, 30)],
               "batches": [{"rows": 10, "start": 10.0, "end": 60.0},
                           {"rows": 20, "start": 60.0, "end": 90.0},
                           {"rows": 5, "start": 100.0, "end": 120.0}]}
        self.assertEqual(run.backlog_at(raw, 55.0), 30)
        self.assertEqual(run.backlog_at(raw, 60.0), 20)
        self.assertEqual(run.backlog_at(raw, 95.0), 0)
        self.assertEqual(run.batch_rows_halves(raw), (10, 20))
        # no batch starts in the second half: the backlog at its end
        raw["batches"] = raw["batches"][:1]
        self.assertEqual(run.batch_rows_halves(raw), (10, 20))

    def test_inflight_mean(self):
        self.assertEqual(stats.inflight_mean([(0, 10), (5, 15)], 0, 10), 1.5)
        self.assertEqual(stats.inflight_mean([(-5, 5)], 0, 10), 0.5)
        self.assertEqual(stats.inflight_mean([], 0, 10), 0)
        with self.assertRaises(ValueError):
            stats.inflight_mean([], 5, 5)


class Verdicts(unittest.TestCase):
    A = [100, 101, 99, 100, 102, 98, 100, 101, 99, 100]

    def test_regressed(self):
        v, d = compare.verdict(self.A, [x * 1.3 for x in self.A], "lower", 0.2)
        self.assertEqual(v, "regressed")
        self.assertAlmostEqual(d, 0.3)

    def test_improved(self):
        v, _ = compare.verdict(self.A, [x * 0.8 for x in self.A], "lower", 0.2)
        self.assertEqual(v, "improved")
        v, _ = compare.verdict(self.A, [x * 0.8 for x in self.A], "higher", 0.25)
        self.assertEqual(v, "unchanged")

    def test_unresolved_when_spread_exceeds_bound(self):
        noisy = [50, 150, 80, 120, 60, 140, 100, 90, 110, 70]
        v, _ = compare.verdict(noisy, [x * 1.05 for x in noisy], "lower", 0.1)
        self.assertEqual(v, "unresolved")

    def test_no_verdict_when_host_steal_differs(self):
        with tempfile.TemporaryDirectory() as d:
            for label, steal, lat in (("a", 0.01, 100.0), ("b", 0.10, 200.0)):
                os.makedirs(os.path.join(d, label))
                for i in range(5):
                    with open(os.path.join(d, label, f"{i}.json"), "w") as f:
                        json.dump({"workload": "w", "trace": 0, "steal_during_run": steal,
                                   "metrics": {"latency_p50_ms": lat + i}}, f)
            out = io.StringIO()
            with contextlib.redirect_stdout(out):
                code = compare.main(["compare.py", os.path.join(d, "a"), os.path.join(d, "b")])
        self.assertEqual(code, 3)
        self.assertIn("host differs", out.getvalue())
        self.assertNotIn("regressed", out.getvalue())

    def test_moved_layers(self):
        a = [{"x": 10.0, "y": 5.0}] * 5
        b = [{"x": 20.0, "y": 5.1}] * 5
        moved = compare.moved_layers(a, b)
        self.assertEqual([m[0] for m in moved], ["x"])


if __name__ == "__main__":
    unittest.main()
