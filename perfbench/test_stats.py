"""Tests of the benchmark's own arithmetic:

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import statistics
import unittest

import stats

HERE = os.path.dirname(os.path.abspath(__file__))


def span(name, pass_id, s, start_ms, parent="pass", **kw):
    out = {"name": name, "pass": pass_id, "parent": parent, "start_ms": start_ms,
           "end_ms": start_ms + int(s * 1000), "s": s, "extra": {}}
    out.update(kw)
    return out


def raw_record():
    """Two timed passes of a two-call workload."""
    spans = []
    for pid, t0, a, b in [("1", 1000, 1.0, 2.0), ("2", 5000, 1.2, 1.8)]:
        spans.append(span("pass", pid, a + b + 0.1, t0, parent=None))
        spans.append(span("graph.derive", pid, a, t0, jobs=3, task_s=2.0,
                          shuffle_bytes=2_000_000, extra={"edges": 10}))
        spans.append(span("algos.pagerank", pid, b, t0 + int(a * 1000) + 1,
                          jobs=8, task_s=4.0, shuffle_bytes=0,
                          extra={"supersteps": 4, "edges": 100,
                                 "superstep_ms": [30, 10, 20, 40]}))
    passes = [{"id": "1", "wall_s": 3.1, "jobs": 11, "failed_jobs": 0,
               "shuffle_bytes": 2_000_000, "peak_exec_mem_bytes": 5_000_000},
              {"id": "2", "wall_s": 3.1, "jobs": 11, "failed_jobs": 0,
               "shuffle_bytes": 4_000_000, "peak_exec_mem_bytes": 7_000_000}]
    return {"workload": "w", "seed": 1,
            "setup": {"session_s": 2.0, "gen_s": [5.0, 1.0, 1.5], "warmup_s": 3.0},
            "passes": passes, "spans": spans,
            "plans": [[1100, 50], [1100 + 1500, 25], [99999, 7]],
            "checks": [{"name": "c", "ok": True, "detail": ""}], "error": None}


class Percentiles(unittest.TestCase):
    def test_quartiles_match_statistics_quantiles(self):
        xs = [3.0, 1.0, 4.0, 1.5, 9.0, 2.6, 5.0, 3.5, 8.0, 7.0]
        self.assertEqual(stats.quartiles(xs), tuple(statistics.quantiles(xs, n=4)))

    def test_single_value_has_zero_spread(self):
        self.assertEqual(stats.quartiles([2.5]), (2.5, 2.5, 2.5))
        self.assertEqual(stats.spread([2.5]), 0.0)

    def test_spread_is_iqr_over_median(self):
        xs = [1.0, 2.0, 3.0, 4.0, 5.0]
        q1, q2, q3 = statistics.quantiles(xs, n=4)
        self.assertAlmostEqual(stats.spread(xs), (q3 - q1) / q2)

    def test_median_of_nothing_is_zero(self):
        self.assertEqual(stats.median([]), 0.0)
        self.assertEqual(stats.median([4, 1, 3]), 3)


class Arithmetic(unittest.TestCase):
    def test_busy(self):
        self.assertAlmostEqual(stats.busy(8.0, 2.0), 1.0)
        self.assertAlmostEqual(stats.busy(2.0, 2.0), 0.25)
        self.assertEqual(stats.busy(1.0, 0.0), 0.0)

    def test_self_time_and_coverage(self):
        self.assertAlmostEqual(stats.self_time(3.1, [1.0, 2.0]), 0.1)
        self.assertAlmostEqual(stats.coverage(4.0, [1.0, 2.0]), 0.75)
        self.assertEqual(stats.coverage(0.0, [1.0]), 0.0)

    def test_plans_go_to_the_window_holding_their_start(self):
        windows = [("a", 0, 10), ("b", 11, 20)]
        got = stats.plan_seconds([[5, 1000], [11, 500], [15, 500], [30, 9]], windows)
        self.assertEqual(got, {"a": 1.0, "b": 1.0})

    def test_setup_takes_the_median_set_up(self):
        self.assertAlmostEqual(stats.setup_seconds(raw_record()["setup"]), 6.5)


class Output(unittest.TestCase):
    def test_untraced_result_has_exactly_the_end_to_end_metrics(self):
        res = stats.result(raw_record(), trace=False)
        self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
        self.assertEqual(list(res["metrics"]), [n for n, _ in stats.END_TO_END])
        self.assertTrue(res["correct"])
        self.assertEqual((res["attempted"], res["failed"]), (23, 0))
        m = res["metrics"]
        self.assertAlmostEqual(m["wall_s"]["value"], 3.1)
        self.assertAlmostEqual(m["shuffle_mb"]["value"], 3.0)
        self.assertAlmostEqual(m["peak_exec_mem_mb"]["value"], 6.0)
        self.assertEqual(m["setup_s"]["unit"], "s")
        json.dumps(res)

    def test_traced_result_reports_every_layer_metric(self):
        res = stats.result(raw_record(), trace=True)
        m = res["metrics"]
        self.assertEqual(list(m), [n for n, _ in stats.per_layer_spec()])
        self.assertAlmostEqual(m["graph.derive.s"]["value"], 1.1)
        self.assertAlmostEqual(m["graph.derive.busy"]["value"],
                               statistics.median([2.0 / 4.0, 2.0 / 4.8]))
        self.assertAlmostEqual(m["graph.derive.plan_s"]["value"], 0.025)
        self.assertAlmostEqual(m["algos.pagerank.plan_s"]["value"], 0.0125)
        self.assertAlmostEqual(m["algos.pagerank.superstep_ms_p50"]["value"], 25)
        self.assertAlmostEqual(m["algos.pagerank.edges_per_s"]["value"],
                               statistics.median([400 / 2.0, 400 / 1.8]))
        self.assertAlmostEqual(m["pass.self_s"]["value"], 0.1)
        self.assertEqual(m["algos.triangles.s"]["value"], 0.0)
        # two coverage checks join the workload's own check
        self.assertEqual(res["attempted"], 22 + 3)
        self.assertTrue(res["correct"])

    def test_a_failed_check_or_error_is_counted(self):
        raw = raw_record()
        raw["checks"][0]["ok"] = False
        raw["error"] = "boom"
        res = stats.result(raw, trace=False)
        self.assertFalse(res["correct"])
        self.assertEqual(res["failed"], 2)

    def test_no_pass_is_an_error(self):
        raw = raw_record()
        raw["passes"] = []
        with self.assertRaises(ValueError):
            stats.result(raw, trace=False)

    def test_benchmark_json_lists_the_reported_metrics(self):
        with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
            spec = json.load(f)
        self.assertEqual([(m["name"], m["unit"]) for m in spec["end_to_end"]],
                         stats.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in spec["per_layer"]],
                         stats.per_layer_spec())


if __name__ == "__main__":
    unittest.main()
