"""Tests of the harness's own logic. Run: python3 -m unittest discover graftbench"""
import math
import unittest

import pandas as pd

import benchlib
import tracing


class TailPercentile(unittest.TestCase):
    def test_keeps_ten_samples_beyond(self):
        xs = list(range(1, 101))  # 100 samples: p90 leaves exactly 10 above
        self.assertEqual(benchlib.tail_percentile(xs), (90, 90))

    def test_order_does_not_matter(self):
        xs = [float(i) for i in range(40, 0, -1)]
        p, v = benchlib.tail_percentile(xs)
        self.assertEqual(p, 75)
        self.assertEqual(sum(x > v for x in xs), 10)

    def test_small_sample_gives_low_percentile(self):
        # 12 samples: only the 2nd smallest still has 10 above it
        p, v = benchlib.tail_percentile(list(range(12)))
        self.assertEqual((p, v), (16, 1))

    def test_too_few_samples(self):
        with self.assertRaises(ValueError):
            benchlib.tail_percentile(list(range(10)))

    def test_never_fewer_than_ten_beyond(self):
        for n in range(11, 300):
            xs = list(range(n))
            p, v = benchlib.tail_percentile(xs)
            self.assertGreaterEqual(n - 1 - v, 10, n)
            if p < 99:  # the next percentile up would leave fewer than ten
                self.assertLess(n - math.ceil((p + 1) * n / 100), 10, n)


class QueryP50(unittest.TestCase):
    def test_median_per_query_then_per_family(self):
        samples = [("a", 1.0), ("a", 3.0), ("b", 5.0), ("b", 5.0), ("c", 9.0),
                   ("x", 0.5), ("y", 0.1)]
        fam = benchlib.family_p50(samples, {"slow": ["a", "b", "c"], "fast": ["x", "y"]})
        self.assertEqual(fam, {"slow": 5.0, "fast": 0.3})

    def test_one_family_is_its_median(self):
        self.assertAlmostEqual(benchlib.query_p50({"iterative": 2.5}), 2.5)

    def test_each_family_moves_it(self):
        base = benchlib.query_p50({"slow": 4.0, "fast": 0.25})
        self.assertAlmostEqual(base, 1.0)
        self.assertAlmostEqual(benchlib.query_p50({"slow": 4.0, "fast": 0.5}) / base, 2 ** 0.5)
        self.assertAlmostEqual(benchlib.query_p50({"slow": 8.0, "fast": 0.25}) / base, 2 ** 0.5)


class Normalization(unittest.TestCase):
    def test_cells(self):
        self.assertIsNone(benchlib.norm(None))
        self.assertEqual(benchlib.norm(float("nan")), "NaN")
        self.assertEqual(benchlib.norm(0.1 + 0.2), 0.3)
        self.assertEqual(benchlib.norm(7), 7)
        self.assertEqual(benchlib.norm("x"), "x")

    def test_rows_compare_as_sets_with_columns_by_name(self):
        got = pd.DataFrame({"b": [2.0000000001, 1.0], "a": ["y", "x"]})
        exp = pd.DataFrame({"a": ["x", "y"], "b": [1.0, 2.0]})
        self.assertIsNone(benchlib.compare_frames(got, exp))

    def test_mismatches_are_named(self):
        exp = pd.DataFrame({"a": [1, 2]})
        self.assertIn("columns", benchlib.compare_frames(pd.DataFrame({"b": [1, 2]}), exp))
        self.assertIn("rows", benchlib.compare_frames(pd.DataFrame({"a": [1]}), exp))
        self.assertIn("values", benchlib.compare_frames(pd.DataFrame({"a": [1, 3]}), exp))
        self.assertIn("values", benchlib.compare_frames(pd.DataFrame({"a": [1.0, 2.001]}),
                                                        pd.DataFrame({"a": [1.0, 2.0]})))


CC = "graft.ops.Dedup$.connectedComponents(Dedup.scala:301)"
LOOP = "graft.ops.Dedup$.$anonfun$connectedComponents$4(Dedup.scala:322)"
QUERY = "graft.queries.DedupQueries$.$anonfun$all$17(DedupQueries.scala:770)"
HARNESS = "graftbench.Harness$.$anonfun$main$9(Harness.scala:111)"


class CallSites(unittest.TestCase):
    def test_parse_frame(self):
        self.assertEqual(benchlib.parse_frame(CC), ("ops.Dedup", "Dedup.scala:301"))
        self.assertEqual(benchlib.parse_frame(QUERY), ("queries.DedupQueries", "DedupQueries.scala:770"))
        self.assertEqual(benchlib.parse_frame("graft.Sessions$.sweep(Sessions.scala:40)"),
                         ("Sessions", "Sessions.scala:40"))
        self.assertIsNone(benchlib.parse_frame(HARNESS))
        self.assertIsNone(benchlib.parse_frame("org.apache.spark.sql.Dataset.count(Dataset.scala:1)"))
        self.assertIsNone(benchlib.parse_frame("graft.ops.X$.f(Unknown Source)"))

    def test_attribute_prefers_job_then_execution_frames(self):
        self.assertEqual(benchlib.attribute([LOOP, QUERY, HARNESS]), "ops.Dedup")
        self.assertEqual(benchlib.attribute([], [QUERY, HARNESS]), "queries.DedupQueries")
        self.assertEqual(benchlib.attribute([HARNESS]), "harness")
        self.assertEqual(benchlib.attribute([]), "other")

    def test_module_group(self):
        self.assertEqual(benchlib.module_group("ops.Graph"), "ops.Graph")
        self.assertEqual(benchlib.module_group("ops.KMeans"), "ops")
        self.assertEqual(benchlib.module_group("queries.MLQueries"), "queries")

    def test_site_key_collapses_recursion(self):
        self.assertEqual(benchlib.site_key([LOOP, LOOP, CC, QUERY, HARNESS]),
                         ("Dedup.scala:322", "Dedup.scala:301", "DedupQueries.scala:770"))
        self.assertEqual(benchlib.site_key([HARNESS], [CC]), ("Dedup.scala:301",))

    def test_iter_rounds_counts_actions_at_repeated_sites(self):
        loop, init = ("Dedup.scala:322",), ("Dedup.scala:301",)
        # 3 rounds of one SQL action each, every action with 2 jobs, plus one init job
        jobs = [(loop, ("sql", r)) for r in range(3) for _ in range(2)] + [(init, ("sql", 9))]
        self.assertEqual(benchlib.iter_rounds(jobs), (3, 6))
        self.assertEqual(benchlib.iter_rounds([(init, ("sql", 1)), (init, ("sql", 1))]), (0, 0))
        self.assertEqual(benchlib.iter_rounds([]), (0, 0))


class Locate(unittest.TestCase):
    def test_latest_open_span(self):
        spans = [{"start_ms": 0, "end_ms": 10, "k": "build"},
                 {"start_ms": 10, "end_ms": 20, "k": "action"}]
        self.assertEqual(tracing.locate(spans, 5)["k"], "build")
        self.assertEqual(tracing.locate(spans, 10)["k"], "action")
        self.assertIsNone(tracing.locate(spans, 25))
        self.assertIsNone(tracing.locate(spans, -1))


class TraceOverhead(unittest.TestCase):
    def test_first_pass_is_left_out(self):
        # passes: warming, untraced, traced, traced, untraced
        spans = [{"qid": f"{p}:q", "kind": "query", "start_ms": p, "end_ms": p, "seconds": 1.0}
                 for p in (2, 3)]
        result = {"trace": {"spans": spans, "jobs": [], "plans": []}, "samples": [],
                  "pass_s": [9.0, 6.0, 6.5, 6.3, 5.8]}
        layers, _ = tracing.per_layer(result, 4)
        self.assertAlmostEqual(layers["trace.overhead_s"][0], 6.4 - 5.9)


if __name__ == "__main__":
    unittest.main()
