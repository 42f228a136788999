"""Tests of the benchmark's metric helpers and of BENCHMARK.json.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import statistics
import unittest

import benchlib
import run

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def span(i, parent, start, end, name="s"):
    return {"id": i, "parent": parent, "name": name, "start_ms": start, "end_ms": end}


def job(i, start, end, frames):
    return {"id": i, "start_ms": start, "end_ms": end, "frames": frames}


class OrderStatistics(unittest.TestCase):
    def test_median_matches_statistics(self):
        for xs in ([3.0], [2.0, 1.0], [5, 1, 4, 2, 3], [0.5, 0.25, 8, 1e9, 3, 3]):
            self.assertEqual(benchlib.median(xs), statistics.median(xs))

    def test_median_of_nothing_fails(self):
        with self.assertRaises(ValueError):
            benchlib.median([])

    def test_percentile_is_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(benchlib.percentile(xs, 50), 50)
        self.assertEqual(benchlib.percentile(xs, 90), 90)
        self.assertEqual(benchlib.percentile(xs, 100), 100)
        self.assertEqual(benchlib.percentile([7.0], 99), 7.0)

    def test_tail_needs_ten_samples_beyond(self):
        self.assertIsNone(benchlib.tail_percentile(list(range(99))))
        self.assertEqual(benchlib.tail_percentile(list(range(1, 101))), (90, 90))
        self.assertEqual(benchlib.tail_percentile(list(range(1, 1001)))[0], 99)


class SelfTime(unittest.TestCase):
    def test_leaf_is_its_duration(self):
        self.assertEqual(benchlib.self_times([span(0, -1, 0, 1500)]), {0: 1.5})

    def test_children_are_subtracted_once_where_they_overlap(self):
        st = benchlib.self_times([span(0, -1, 0, 1000), span(1, 0, 100, 400),
                                  span(2, 0, 300, 600), span(3, 1, 100, 200)])
        self.assertAlmostEqual(st[0], 0.5)   # children cover 100..600
        self.assertAlmostEqual(st[1], 0.2)
        self.assertAlmostEqual(st[2], 0.3)
        self.assertAlmostEqual(st[3], 0.1)

    def test_child_outside_parent_is_clipped(self):
        st = benchlib.self_times([span(0, -1, 0, 100), span(1, 0, 50, 300)])
        self.assertAlmostEqual(st[0], 0.05)


class Attribution(unittest.TestCase):
    def test_site_is_first_program_frame(self):
        self.assertEqual(benchlib.site_of(["graft.operators.Frontier", "graft.operators.Crawl"]),
                         "operators.Frontier")
        self.assertEqual(benchlib.site_of([]), "unattributed")

    def test_nested_state_calls_count_for_the_outermost(self):
        frames = ["graft.state.TableIO", "graft.state.Durable", "graft.operators.Crawl"]
        self.assertEqual(benchlib.site_of(frames), "state.Durable")
        self.assertEqual(benchlib.site_of(["graft.state.TableIO", "graft.operators.Crawl"]),
                         "state.TableIO")

    def test_parts_sum_to_the_interval(self):
        jobs = [job(1, 100, 400, ["graft.state.SeenStore"]),
                job(2, 300, 700, ["graft.state.TableIO"]),
                job(3, 900, 1200, [])]
        parts = benchlib.attribute(jobs, 0, 1000)
        self.assertAlmostEqual(parts["state.SeenStore"], 0.3)  # earliest job keeps the overlap
        self.assertAlmostEqual(parts["state.TableIO"], 0.3)
        self.assertAlmostEqual(parts["unattributed"], 0.1)     # clipped at the interval end
        self.assertAlmostEqual(parts["driver"], 0.3)
        self.assertAlmostEqual(sum(parts.values()), 1.0)


class EndToEnd(unittest.TestCase):
    def test_rate_is_the_median_ops_rate(self):
        ops = [{"name": "batch", "start_ms": 1000.0 * i, "end_ms": 1000.0 * i + d, "items": 100}
               for i, d in enumerate([500.0, 500.0, 400.0, 5000.0])]
        raw = {"workload": "frontier-burst", "ops": ops, "facts": {}, "ready_ms": 2000.0,
               "setups_s": [{"kind": "prepare", "s": 1.0}, {"kind": "warm", "s": 0.5}],
               "peak_rss_kb": 2048}
        gated, named = benchlib.end_to_end(raw, 1.0)
        self.assertAlmostEqual(gated["items_per_s"][0], 200.0)  # the slow op does not count
        self.assertAlmostEqual(gated["op_s_p50"][0], 0.5)
        self.assertAlmostEqual(gated["setup_s"][0], 2.5)
        self.assertEqual(named["frontier_urls_per_s"][0], gated["items_per_s"][0])

    def test_board_latency_is_the_median_pass(self):
        times = {"a": [100.0, 300.0, 200.0], "b": [1000.0, 1400.0, 1200.0]}
        ops, t = [], 0.0
        for i in range(3):
            for q in ("a", "b"):
                ops.append({"name": q, "start_ms": t, "end_ms": t + times[q][i], "items": 1})
                t += times[q][i]
        raw = {"workload": "webtext-board", "ops": ops, "facts": {}, "ready_ms": 0.0,
               "setups_s": [{"kind": "prepare", "s": 1.0}], "peak_rss_kb": 1024}
        gated, named = benchlib.end_to_end(raw, 0.0)
        self.assertAlmostEqual(gated["op_s_p50"][0], 1.4)      # passes of 1.1, 1.7, 1.4 s
        self.assertAlmostEqual(gated["items_per_s"][0], 2 / 1.4)
        self.assertAlmostEqual(named["board_query_s_p50"][0], 0.7)  # between 0.2 and 1.2


class MetricNames(unittest.TestCase):
    def test_accepts_declared_shape(self):
        for n in ("setup_s", "codec.url_normalize_ns", "board.family_q_s", "a-b.c_d", "9x"):
            self.assertEqual(benchlib.check_name(n), n)

    def test_rejects_other_shapes(self):
        for n in ("", "_x", ".x", "a b", "a/b", "x" * 65, "ünit"):
            with self.assertRaises(ValueError):
                benchlib.check_name(n)


class BenchmarkJson(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            self.spec = json.load(f)

    def test_names_and_units_match_the_runner(self):
        self.assertEqual([(m["name"], m["unit"]) for m in self.spec["end_to_end"]], run.END_TO_END)
        self.assertEqual([m["name"] for m in self.spec["per_layer"]], run.PER_LAYER)
        self.assertEqual([m["unit"] for m in self.spec["per_layer"]],
                         [run.unit_of(n) for n in run.PER_LAYER])
        for w in self.spec["workloads"]:
            self.assertIn(w["name"], run.WORKLOADS)

    def test_every_name_is_valid_and_unique(self):
        names = [m["name"] for k in ("workloads", "end_to_end", "per_layer") for m in self.spec[k]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            benchlib.check_name(n)


if __name__ == "__main__":
    unittest.main()
