"""The benchmark's own checks: python3 -m unittest discover -s perfbench/tests"""
import json
import math
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
import metrics  # noqa: E402


def query(name, rows=3, hash_="7", ok=True, round_=0, wall=1.0):
    return {"name": name, "rows": rows, "hash": hash_, "ok": ok, "round": round_,
            "wall_s": wall}


class PercentileRule(unittest.TestCase):
    def test_leaves_at_least_ten_samples_beyond(self):
        for n in range(20, 3000, 7):
            p = metrics.tail_percentile(n)
            self.assertGreaterEqual(n - math.ceil(p * n / 100), metrics.TAIL_SAMPLES, n)
            if p < 99:
                self.assertLess(n - math.ceil((p + 1) * n / 100), metrics.TAIL_SAMPLES, n)

    def test_known_points(self):
        self.assertEqual(metrics.tail_percentile(20), 50)
        self.assertEqual(metrics.tail_percentile(40), 75)
        self.assertEqual(metrics.tail_percentile(100), 90)
        self.assertEqual(metrics.tail_percentile(1000), 99)

    def test_too_few_samples_fall_back_to_the_median(self):
        self.assertEqual(metrics.tail_percentile(5), 50)
        qs = [query("a", wall=w) for w in (1.0, 2.0, 3.0, 4.0)]
        metrics.check(qs, {})
        values, detail = metrics.end_to_end({"queries": qs, "setup_s": 1.0, "peak_rss_kb": 1024},
                                            [{"round": 0, "wall_s": 10.0, "cpu_s": 1.0}])
        self.assertEqual(detail["tail_percentile"], 50)
        self.assertEqual(detail["query_tail_s"], values["query_p50_s"])
        self.assertEqual(detail["query_tail_s"], 2.5)

    def test_tail_covers_every_measured_round(self):
        qs = [query("a", round_=r, wall=1.0 + r + i / 100) for r in range(3) for i in range(10)]
        metrics.check(qs, {})
        rounds = [{"round": r, "wall_s": 10.0 + r, "cpu_s": 1.0} for r in range(3)]
        values, detail = metrics.end_to_end({"queries": qs, "setup_s": 1.0, "peak_rss_kb": 1024},
                                            rounds)
        self.assertEqual((detail["tail_samples"], detail["tail_percentile"]), (30, 66))
        self.assertEqual(detail["query_tail_s"], 2.09)  # from round 1, which is not calm
        self.assertEqual(detail["calm_samples"], 10)

    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(metrics.percentile(xs, 90), 90)
        self.assertEqual(metrics.percentile(xs, 50), 50)


class FingerprintCheck(unittest.TestCase):
    expected = {"fingerprints": {"a": {"rows": 3, "hash": "7"}, "b": {"rows": 2, "hash": "9"}},
                "row_count_only": {"b": "content hash changes between runs"}}

    def test_mismatch_counts_as_failed(self):
        qs = [query("a"), query("a", hash_="8"), query("a", rows=4), query("a", ok=False)]
        self.assertEqual(metrics.check(qs, self.expected), ["a"])
        self.assertEqual([q["failed"] for q in qs], [False, True, True, True])

    def test_row_count_only_ignores_the_hash(self):
        qs = [query("b", rows=2, hash_="1"), query("b", rows=5, hash_="9")]
        metrics.check(qs, self.expected)
        self.assertEqual([q["failed"] for q in qs], [False, True])

    def test_unlisted_queries_must_repeat_within_the_run(self):
        qs = [query("c"), query("c"), query("c", hash_="0")]
        metrics.check(qs, self.expected)
        self.assertEqual([q["failed"] for q in qs], [False, False, True])

    def test_failures_lower_success_and_throughput(self):
        qs = [query("a"), query("a", hash_="8")]
        metrics.check(qs, self.expected)
        rec = {"queries": qs, "setup_s": 1.0, "peak_rss_kb": 1024}
        values, _ = metrics.end_to_end(rec, [{"round": 0, "wall_s": 2.0, "cpu_s": 4.0}])
        self.assertEqual(values["success_frac"], 0.5)
        self.assertEqual(values["queries_per_s"], 0.5)

    def test_warm_round_failures_are_counted(self):
        qs = [query("a", round_=-1, hash_="8"), query("a", round_=-1), query("a")]
        self.assertEqual(metrics.check(qs, self.expected), ["a"])
        rec = {"queries": qs, "setup_s": 1.0, "peak_rss_kb": 1024}
        values, detail = metrics.end_to_end(rec, [{"round": 0, "wall_s": 1.0, "cpu_s": 1.0}])
        self.assertAlmostEqual(values["success_frac"], 2 / 3)
        self.assertEqual(values["queries_per_s"], 1.0)
        self.assertEqual(detail["tail_samples"], 1)


class CalmRounds(unittest.TestCase):
    def test_fastest_third_at_least_one(self):
        rounds = [{"round": i, "wall_s": w} for i, w in enumerate((5.0, 1.0, 3.0, 2.0, 4.0, 6.0, 7.0))]
        self.assertEqual([r["round"] for r in metrics.calm_rounds(rounds)], [1, 3, 2])
        self.assertEqual(len(metrics.calm_rounds(rounds[:2])), 1)

    def test_slow_rounds_do_not_move_the_metrics(self):
        qs = [query("a", round_=r, wall=w) for r, w in ((0, 0.5), (0, 0.5), (1, 4.0), (1, 5.0),
                                                        (2, 3.0), (2, 6.0))]
        metrics.check(qs, {})
        rounds = [{"round": 0, "wall_s": 1.0, "cpu_s": 2.0}, {"round": 1, "wall_s": 9.0, "cpu_s": 8.0},
                  {"round": 2, "wall_s": 9.5, "cpu_s": 2.0}]
        values, _ = metrics.end_to_end({"queries": qs, "setup_s": 1.0, "peak_rss_kb": 1024}, rounds)
        self.assertEqual(values["queries_per_s"], 2.0)
        self.assertEqual(values["query_p50_s"], 0.5)
        self.assertEqual(values["cpu_s_per_query"], 1.0)

    def test_a_slowdown_in_every_round_shows_in_full(self):
        def qps(wall):
            qs = [query("a", round_=r, wall=wall / 2) for r in range(6) for _ in range(2)]
            metrics.check(qs, {})
            rounds = [{"round": r, "wall_s": wall * (1 + r / 10), "cpu_s": 1.0} for r in range(6)]
            return metrics.end_to_end({"queries": qs, "setup_s": 1.0, "peak_rss_kb": 1024},
                                      rounds)[0]["queries_per_s"]
        self.assertAlmostEqual(qps(1.0) / qps(1.3), 1.3)


class PrintedNames(unittest.TestCase):
    def test_names_and_units_match_benchmark_json(self):
        with open(os.path.join(os.path.dirname(os.path.dirname(HERE)), "BENCHMARK.json")) as f:
            bench = json.load(f)
        for key, printed in (("end_to_end", metrics.END_TO_END), ("per_layer", metrics.PER_LAYER)):
            self.assertEqual([(m["name"], m["unit"]) for m in bench[key]], list(printed.items()))


class SelfTime(unittest.TestCase):
    def test_children_overlap_counted_once(self):
        spans = [{"id": 1, "parent": 0, "layer": "query", "start_ns": 0, "end_ns": 10e9},
                 {"id": 2, "parent": 1, "layer": "job", "start_ns": 2e9, "end_ns": 6e9},
                 {"id": 3, "parent": 1, "layer": "job", "start_ns": 4e9, "end_ns": 7e9}]
        self.assertAlmostEqual(metrics.self_times(spans)["query"], 5.0)
        self.assertAlmostEqual(metrics.self_times(spans)["job"], 7.0)


if __name__ == "__main__":
    unittest.main()
