"""Tests of the benchmark's percentile rule and failure counting.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import unittest

import stats


class TailRule(unittest.TestCase):
    def test_tail_leaves_exactly_ten_samples_above(self):
        values = list(range(1, 101))  # 1..100
        value, pct, n = stats.tail(values)
        self.assertEqual(n, 100)
        self.assertEqual(value, 90)
        self.assertEqual(sum(v > value for v in values), 10)
        self.assertAlmostEqual(pct, 90.0)

    def test_tail_percentile_grows_with_samples(self):
        _, pct_small, _ = stats.tail(list(range(40)))
        _, pct_big, _ = stats.tail(list(range(1000)))
        self.assertAlmostEqual(pct_small, 75.0)
        self.assertAlmostEqual(pct_big, 99.0)

    def test_tail_ignores_input_order(self):
        values = [float(v) for v in range(30)]
        shuffled = values[1::2] + values[0::2]
        self.assertEqual(stats.tail(shuffled), stats.tail(values))
        self.assertEqual(stats.tail(shuffled)[0], 19.0)

    def test_too_few_samples_fall_back_to_median(self):
        values = [4.0, 1.0, 3.0, 2.0]
        self.assertEqual(stats.tail(values), (2.5, 50.0, 4))
        self.assertEqual(stats.tail([float(v) for v in range(19)]), (9.0, 50.0, 19))

    def test_twenty_samples_is_the_first_real_tail(self):
        value, pct, n = stats.tail([float(v) for v in range(20)])
        self.assertEqual((value, pct, n), (9.0, 50.0, 20))
        self.assertEqual(stats.tail([float(v) for v in range(21)])[0], 10.0)


class FailureCounting(unittest.TestCase):
    def test_clean_run(self):
        self.assertEqual(stats.count_failures(40, 0, [], [True, True]), (0, True))

    def test_oracle_rejections_add_to_failed_operations(self):
        self.assertEqual(stats.count_failures(16, 1, ["q1", "q2"], []), (3, False))

    def test_a_query_rejected_twice_counts_once(self):
        self.assertEqual(stats.count_failures(16, 0, ["q1", "q1"], []), (1, False))

    def test_failures_never_exceed_attempts(self):
        self.assertEqual(stats.count_failures(2, 2, ["q3"], []), (2, False))

    def test_failed_check_makes_run_incorrect_without_adding_operations(self):
        self.assertEqual(stats.count_failures(8, 0, [], [True, False]), (0, False))


class EndToEnd(unittest.TestCase):
    def result(self, **kw):
        res = {"latencies_ms": [10.0, 20.0, 30.0], "staging_s": [3.0, 1.0, 2.0],
               "engine_s": 4.0, "warmup_s": 0.5, "items": 300, "window_s": 10.0,
               "peak_rss_kb": 2048}
        res.update(kw)
        return res

    def test_setup_uses_the_median_staging(self):
        m, _ = stats.end_to_end(self.result())
        self.assertAlmostEqual(m["setup_s"]["value"], 4.0 + 2.0 + 0.5)

    def test_throughput_latency_and_memory(self):
        m, detail = stats.end_to_end(self.result())
        self.assertAlmostEqual(m["throughput_per_s"]["value"], 30.0)
        self.assertEqual(m["latency_p50_ms"]["value"], 20.0)
        self.assertEqual(m["peak_rss_mb"]["value"], 2.0)
        self.assertEqual(detail, {"tail_percentile": 50.0, "samples": 3})
        self.assertEqual({v["unit"] for v in m.values()}, {"s", "1/s", "ms", "MB"})


if __name__ == "__main__":
    unittest.main()
