"""Tests of the benchmark's own arithmetic and checks.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import json
import os
import unittest

import benchlib
from benchlib import BenchError

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH_DIR = os.path.join(ROOT, "perfbench")


def crawl_expected():
    return {"n_urls": 3, "rows_in": 4, "html_bytes": 1000,
            "template_digest": "77", "reference_digest": "77"}


def crawl_rep(wall, digest="77", rows=3):
    return {"wall_s": wall, "rows": rows, "urls": rows, "digest": digest,
            "failed_rows": 0, "table_bytes": 300}


class StatsTest(unittest.TestCase):
    def test_median(self):
        self.assertEqual(benchlib.median([5.0, 1.0, 4.0, 2.0, 3.0, 10.0]), 3.5)
        self.assertEqual(benchlib.median([2.0, 9.0, 1.0]), 2.0)

    def test_no_samples_is_an_error(self):
        with self.assertRaises(BenchError):
            benchlib.median([])
        with self.assertRaises(BenchError):
            benchlib.percentile([], 50)

    def test_percentile_is_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(benchlib.percentile(xs, 50), 50)
        self.assertEqual(benchlib.percentile(xs, 99), 99)
        self.assertEqual(benchlib.percentile([7], 99), 7)

    def test_ratio_names_a_zero_base(self):
        self.assertEqual(benchlib.ratio(3, 4, "x"), 0.75)
        with self.assertRaisesRegex(BenchError, "survivor rows"):
            benchlib.ratio(1, 0, "survivor rows")


class SelfTimeTest(unittest.TestCase):
    def test_self_time_subtracts_union_of_children(self):
        # two overlapping jobs cover [2, 6] and one more covers [8, 9]
        self.assertEqual(benchlib.self_time(0, 10, [(2, 5), (4, 6), (8, 9)]), 5)

    def test_children_are_clipped_to_the_span(self):
        self.assertEqual(benchlib.self_time(5, 10, [(0, 6), (9, 20)]), 3)

    def test_no_children_means_all_self(self):
        self.assertEqual(benchlib.self_time(1, 4, []), 3)


class GroupMetricsTest(unittest.TestCase):
    def span(self):
        # stage, duration ms, run ms, cpu ns, shuffle w B, shuffle r B,
        # fetch wait ms, disk spill B
        tasks = [[1, 100, 90, 80e6, 1e6, 0, 0, 0],
                 [1, 300, 290, 250e6, 1e6, 0, 0, 0],
                 [1, 100, 90, 80e6, 1e6, 0, 0, 0],
                 [2, 10, 5, 1e6, 0, 3e6, 4, 2e6]]
        return {"start_ms": 1000.0, "end_ms": 1500.0, "gc_ms": 20,
                "jobs": [[1100, 1300], [1250, 1400]], "tasks": tasks}

    def test_group_metrics(self):
        m = benchlib.group_metrics(self.span(), cores=4)
        self.assertAlmostEqual(m["wall_s"], 0.5)
        self.assertAlmostEqual(m["self_s"], 0.2)  # 500 ms - jobs over 300 ms
        self.assertAlmostEqual(m["cpu_s"], 0.411)
        self.assertAlmostEqual(m["gc_s"], 0.02)
        self.assertAlmostEqual(m["shuffle_write_mb"], 3.0)
        self.assertAlmostEqual(m["shuffle_read_mb"], 3.0)
        self.assertAlmostEqual(m["fetch_wait_s"], 0.004)
        self.assertAlmostEqual(m["spill_mb"], 2.0)
        # heaviest stage is 1: slowest task 300 ms over median 100 ms
        self.assertAlmostEqual(m["task_skew"], 3.0)
        # 475 ms of task run time over 500 ms x 4 slots
        self.assertAlmostEqual(m["slot_busy_frac"], 475 / 2000)

    def test_a_group_without_tasks_is_an_error(self):
        s = self.span()
        s["tasks"] = []
        with self.assertRaises(BenchError):
            benchlib.group_metrics(s, cores=4)


class CheckTest(unittest.TestCase):
    def test_wrong_expected_text_turns_into_fail(self):
        out = benchlib.Outcome()
        exp = crawl_expected()
        exp["template_digest"] = "78"  # one expected text injected wrong
        walls = benchlib.check_crawl_reps([crawl_rep(1.0)], exp, out, ["rep 0"])
        self.assertEqual(walls, {})
        self.assertEqual((out.attempted, out.failed), (1, 1))
        self.assertIn("FAIL", out.lines[0])
        self.assertIn("fullExpectedText", out.lines[0])
        self.assertNotIn(" s,", out.lines[0])  # no time for a failed rep

    def test_duplicate_rows_fail(self):
        out = benchlib.Outcome()
        benchlib.check_crawl_reps([crawl_rep(1.0, rows=4)], crawl_expected(), out,
                                  ["rep 0"])
        self.assertEqual(out.failed, 1)

    def test_passing_reps_report_time_and_docs_per_s(self):
        out = benchlib.Outcome()
        walls = benchlib.check_crawl_reps([crawl_rep(2.0)], crawl_expected(), out,
                                          ["rep 0"])
        self.assertEqual(walls, {0: 2.0})
        self.assertIn("2.0000 s, 2.0 docs/s", out.lines[0])

    def test_query_checks(self):
        exp = {"a": {"rows": 2, "digest": "5"}, "b": {"rows": 1, "digest": None}}
        ok = {"ok": True, "rows": 2, "digest": "5", "s": 0.1}
        self.assertEqual(benchlib.query_problems("a", ok, exp), [])
        self.assertTrue(benchlib.query_problems("a", dict(ok, digest="6"), exp))
        self.assertTrue(benchlib.query_problems("a", {"ok": False, "error": "x"}, exp))
        self.assertTrue(benchlib.query_problems("c", ok, exp))
        # a query with no recorded digest is checked on its row count only
        self.assertEqual(benchlib.query_problems(
            "b", {"ok": True, "rows": 1, "digest": "9"}, exp), [])

    def test_a_failed_query_fails_its_pass(self):
        exp = {"a": {"rows": 1, "digest": "5"}, "b": {"rows": 1, "digest": "6"}}
        good = {"ok": True, "rows": 1, "s": 0.5}
        passes = [{"queries": {"a": dict(good, digest="5"), "b": dict(good, digest="6")}},
                  {"queries": {"a": dict(good, digest="5"), "b": dict(good, digest="0")}}]
        out = benchlib.Outcome()
        per_query, walls = benchlib.check_query_passes(passes, exp, out,
                                                       ["pass 0", "pass 1"])
        self.assertEqual(walls, {0: 1.0})
        self.assertEqual((out.attempted, out.failed), (4, 1))
        self.assertIn("pass 1: FAIL", out.lines)


class EndToEndTest(unittest.TestCase):
    def raw(self, reps):
        phases = ["first", "warmup"] + ["measured"] * (len(reps) - 2)
        return {"setup_s": [3.0, 1.0, 2.0], "heap_live_bytes": 5e8,
                "reps": [{"phase": p, "rep": r} for p, r in zip(phases, reps)]}

    def test_metrics_are_medians_of_passing_measured_reps(self):
        reps = [crawl_rep(9.0), crawl_rep(5.0), crawl_rep(2.0), crawl_rep(4.0),
                crawl_rep(3.0), crawl_rep(1.0, digest="0")]
        out = benchlib.Outcome()
        m = benchlib.end_to_end("crawl-full", self.raw(reps), crawl_expected(), out)
        self.assertEqual(m, {"setup_s": 2.0, "warmup_s": 14.0, "job_s": 3.0,
                             "heap_live_mb": 500.0})
        self.assertEqual((out.attempted, out.failed), (6, 1))
        self.assertTrue(out.lines[1].startswith("rep 1 (warmup): 5.0000 s"))
        self.assertTrue(out.lines[5].startswith("rep 5 (measured): FAIL"))

    def test_failed_warmup_rep_gives_no_result(self):
        for bad in (0, 1):
            reps = [crawl_rep(9.0), crawl_rep(5.0), crawl_rep(2.0)]
            reps[bad] = crawl_rep(1.0, digest="0")
            with self.assertRaises(BenchError):
                benchlib.end_to_end("crawl-full", self.raw(reps), crawl_expected(),
                                    benchlib.Outcome())


class QueryLayerTest(unittest.TestCase):
    def test_warmup_pass_is_left_out(self):
        exp = {"a": {"rows": 1, "digest": "5"}}

        def qpass(phase, s, compiles):
            return {"phase": phase, "rep": {
                "queries": {"a": {"ok": True, "rows": 1, "digest": "5", "s": s}},
                "compiles": compiles, "compile_ns": compiles * 10e6}}

        tagged = [qpass("first", 9.0, 50), qpass("warmup", 5.0, 40),
                  qpass("measured", 2.0, 4), qpass("measured", 4.0, 6)]
        m = benchlib.query_layer(tagged, exp, benchlib.Outcome())
        self.assertEqual(m["query.a_s"], 3.0)
        self.assertEqual(m["codegen.first.compiles"], 50)
        self.assertEqual(m["codegen.first.compile_s"], 0.5)
        self.assertEqual(m["codegen.warm.compiles"], 5)


class KernelTest(unittest.TestCase):
    def test_other_is_parse_page_minus_phases(self):
        k = {"docs": 2, "restarts": 1,
             "parse_ns": [[100, 300], [110, 310], [90, 290]],
             "phase_ns": [[20, 40, 100, 20]] * 3}
        m = benchlib.kernel_layer(k)
        self.assertEqual(m["tree.parse_ns_per_doc"], 50)
        self.assertEqual(m["kernel.other_ns_per_doc"], 200 - 90)
        self.assertEqual(m["kernel.parsePage_ns_p50"], 100)
        self.assertEqual(m["kernel.parsePage_ns_p99"], 300)
        self.assertAlmostEqual(m["kernel.docs_per_s_1t"], 2 / 400e-9)
        self.assertEqual(m["encoding.restart_frac"], 0.5)


class BenchmarkJsonTest(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            self.spec = json.load(f)
        with open(os.path.join(BENCH_DIR, "expected_queries.json")) as f:
            self.queries = json.load(f)

    def test_metric_lists_match_what_the_benchmark_prints(self):
        e2e = [(m["name"], m["unit"]) for m in self.spec["end_to_end"]]
        self.assertEqual(e2e, list(benchlib.END_TO_END))
        layer = [(m["name"], m["unit"]) for m in self.spec["per_layer"]]
        self.assertEqual(layer, benchlib.per_layer_names(self.queries))
        self.assertLessEqual(len(layer), 128)

    def test_every_query_of_the_suite_is_checked(self):
        self.assertEqual(len(self.queries), 45)


if __name__ == "__main__":
    unittest.main()
