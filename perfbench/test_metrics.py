"""Tests of the benchmark's own arithmetic on small fixed inputs.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import unittest

import metrics
import sweep_oracle


class TailRule(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        self.assertEqual(metrics.tail_percentile(20), 50.0)
        self.assertEqual(metrics.tail_percentile(39), 50.0)
        self.assertEqual(metrics.tail_percentile(40), 75.0)
        self.assertEqual(metrics.tail_percentile(100), 90.0)
        self.assertEqual(metrics.tail_percentile(199), 90.0)
        self.assertEqual(metrics.tail_percentile(200), 95.0)
        self.assertEqual(metrics.tail_percentile(1000), 99.0)
        self.assertEqual(metrics.tail_percentile(10000), 99.9)

    def test_too_few_samples_fall_back_to_the_maximum(self):
        self.assertEqual(metrics.tail_percentile(19), 100.0)
        self.assertEqual(metrics.tail([3.0, 1.0, 2.0]), (100.0, 3.0, 3))

    def test_tail_value_interpolates(self):
        values = [float(i) for i in range(1, 41)]  # 40 samples -> p75
        p, v, n = metrics.tail(values)
        self.assertEqual((p, n), (75.0, 40))
        self.assertAlmostEqual(v, 1 + 0.75 * 39)

    def test_quantile_and_median(self):
        self.assertEqual(metrics.quantile([4.0, 1.0, 3.0, 2.0], 0.5), 2.5)
        self.assertEqual(metrics.quantile([5.0], 0.9), 5.0)
        self.assertEqual(metrics.median([]), 0.0)


class FailFrac(unittest.TestCase):
    def test_ratio_of_failed_to_attempted(self):
        self.assertEqual(metrics.fail_frac(0, 80), 0.0)
        self.assertEqual(metrics.fail_frac(2, 80), 0.025)

    def test_nothing_attempted_counts_as_total_failure(self):
        self.assertEqual(metrics.fail_frac(0, 0), 1.0)


class SelfTime(unittest.TestCase):
    def test_span_minus_direct_children(self):
        spans = [
            {"id": 1, "parent": -1, "name": "pass 0", "start_ms": 0.0, "end_ms": 100.0},
            {"id": 2, "parent": 1, "name": "epoch 0", "start_ms": 10.0, "end_ms": 50.0},
            {"id": 3, "parent": 2, "name": "job cdc", "start_ms": 15.0, "end_ms": 45.0},
            {"id": 4, "parent": 1, "name": "epoch 1", "start_ms": 55.0, "end_ms": 95.0},
        ]
        st = metrics.self_times(spans)
        self.assertEqual(st, {1: 20.0, 2: 10.0, 3: 30.0, 4: 40.0})
        self.assertEqual(dict(metrics.self_time_by_name(spans)),
                         {"epoch": 50.0, "job": 30.0, "pass": 20.0})

    def test_overlapping_children_never_go_negative(self):
        spans = [
            {"id": 1, "parent": -1, "name": "a", "start_ms": 0.0, "end_ms": 10.0},
            {"id": 2, "parent": 1, "name": "b", "start_ms": 0.0, "end_ms": 8.0},
            {"id": 3, "parent": 1, "name": "c", "start_ms": 2.0, "end_ms": 10.0},
        ]
        self.assertEqual(metrics.self_times(spans)[1], 0.0)


class SpaceAndSetup(unittest.TestCase):
    def test_space_amp(self):
        self.assertEqual(metrics.space_amp(1500.0, 1000.0), 1.5)
        self.assertEqual(metrics.space_amp(1500.0, 0.0), 0.0)

    def test_setup_is_session_plus_median_of_each_repeated_part(self):
        setup = {"session": [2.0], "generate": [1.0, 5.0, 2.0], "warmup": [3.0]}
        self.assertEqual(metrics.setup_seconds(setup), 7.0)

    def test_query_prefix(self):
        self.assertEqual(metrics.query_prefix("q1_pricing"), "q")
        self.assertEqual(metrics.query_prefix("ta_tfidf"), "ta")
        self.assertEqual(metrics.query_prefix("cdc_parity"), "cdc")


def _raw(workload, samples, passes, **extra):
    raw = {"workload": workload, "cores": 4, "setup": {"session": [1.0]}, "samples": samples,
           "passes": passes, "values": {"heap_peak_bytes": 2 ** 21}, "tags": {},
           "attempted": 10, "failed": 0, "traced_passes": 0, "sizing": {"epoch_rows": 100}}
    raw.update(extra)
    return raw


class EndToEnd(unittest.TestCase):
    def test_untraced_passes_only(self):
        raw = _raw("cdc_tail", {"epoch": [1.0, 2.0, 3.0]},
                   [{"wall_s": 6.0, "cpu_s": 12.0, "traced": False},
                    {"wall_s": 9.0, "cpu_s": 30.0, "traced": True},
                    {"wall_s": 8.0, "cpu_s": 14.0, "traced": False}])
        e = metrics.end_to_end(raw)
        self.assertEqual(e["pass_s"], (7.0, "s"))
        self.assertEqual(e["cpu_s"], (13.0, "s"))
        self.assertEqual(e["op_p50_s"], (2.0, "s"))
        self.assertEqual(metrics.per_layer(raw)["op_tail_s"], (3.0, "s"))
        self.assertEqual(e["heap_peak_mb"], (2.0, "MB"))

    def test_lake_serve_rates_and_overhead(self):
        raw = _raw("lake_serve", {"merge": [0.5, 0.5], "lookup": [0.1], "scan": [0.2]},
                   [{"wall_s": 3.0, "cpu_s": 2.0, "traced": False},
                    {"wall_s": 1.2, "cpu_s": 2.0, "traced": True},
                    {"wall_s": 1.0, "cpu_s": 2.0, "traced": False}],
                   traced_passes=1,
                   tags={"lake": {"jobs": 10.0, "task_cpu_s": 2.4}},
                   values={"lake.merges": 1.0, "space.disk_bytes": 30.0,
                           "space.logical_bytes": 20.0})
        layer = metrics.per_layer(raw)
        self.assertEqual(layer["apply_events_per_s"], (200.0, "1/s"))
        self.assertEqual(layer["lake.jobs_per_epoch"], (10.0, "count"))
        self.assertEqual(layer["space_amp"], (1.5, "ratio"))
        self.assertAlmostEqual(layer["trace.overhead_frac"][0], 0.2)
        self.assertAlmostEqual(layer["spark.cpu_util"][0], 2.4 / (1.2 * 4))
        self.assertEqual(metrics.end_to_end(raw)["pass_s"], (2.0, "s"))


class Digest(unittest.TestCase):
    def test_order_and_column_order_independent(self):
        import pandas as pd
        a = pd.DataFrame({"k": [1, 2, 3], "v": ["x", None, "z"], "arr": [[1.0], [2.0, 3.0], []]})
        b = a.iloc[[2, 0, 1]][["v", "arr", "k"]]
        self.assertEqual(sweep_oracle.digest(a), sweep_oracle.digest(b))
        c = a.copy()
        c.loc[0, "v"] = "y"
        self.assertNotEqual(sweep_oracle.digest(a), sweep_oracle.digest(c))


if __name__ == "__main__":
    unittest.main()
