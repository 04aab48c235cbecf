"""Tests of the benchmark's own arithmetic and input generators.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import filecmp
import os
import sys
import tempfile
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import stats  # noqa: E402


class TailPercentile(unittest.TestCase):
    def test_273_samples_report_p95(self):
        xs = list(range(1, 274))
        v, rank = stats.tail_percentile(xs)
        self.assertEqual(v, 260)  # nearest rank ceil(0.95 * 273) = 260
        self.assertGreaterEqual(sum(1 for x in xs if x > v), 10)
        self.assertAlmostEqual(rank, 260 / 273)

    def test_lowered_until_ten_samples_lie_beyond(self):
        xs = list(range(1, 101))
        v, rank = stats.tail_percentile(xs)
        self.assertEqual(v, 90)
        self.assertEqual(sum(1 for x in xs if x > v), 10)
        self.assertAlmostEqual(rank, 0.9)

    def test_ties_do_not_count_as_beyond(self):
        xs = [1] * 30 + [5] * 15 + [9] * 9
        v, _ = stats.tail_percentile(xs)
        self.assertEqual(v, 1)  # only 9 samples exceed 5
        self.assertGreaterEqual(sum(1 for x in xs if x > v), 10)

    def test_too_few_samples_fall_back_to_median(self):
        xs = [3.0, 1.0, 2.0, 10.0, 4.0]
        self.assertEqual(stats.tail_percentile(xs), (3.0, 0.5))

    def test_order_does_not_matter(self):
        xs = [(i * 37) % 101 for i in range(101)]
        self.assertEqual(stats.tail_percentile(xs),
                         stats.tail_percentile(sorted(xs)))


class Intervals(unittest.TestCase):
    def test_union_merges_overlap_and_nesting(self):
        self.assertEqual(stats.union_length([(0, 10), (5, 15), (20, 30),
                                             (22, 25)]), 25)

    def test_union_clips_to_window(self):
        self.assertEqual(stats.union_length([(0, 10), (5, 15), (20, 30)],
                                            lo=8, hi=22), 9)

    def test_union_of_nothing(self):
        self.assertEqual(stats.union_length([]), 0)
        self.assertEqual(stats.union_length([(5, 5), (9, 3)]), 0)

    def test_driver_time_is_wall_minus_task_union(self):
        # two overlapping tasks and one outside the window
        tasks = [(110, 150), (140, 170), (300, 400)]
        self.assertEqual(stats.driver_ms(100, 200, tasks), 100 - 60)

    def test_driver_time_with_no_tasks(self):
        self.assertEqual(stats.driver_ms(0, 50, []), 50)


def span(i, parent, a, b, **kw):
    return dict(id=i, parent=parent, start_ms=a, end_ms=b, **kw)


class SelfTime(unittest.TestCase):
    def test_nested_children(self):
        spans = [span(0, -1, 0, 100), span(1, 0, 10, 40),
                 span(2, 1, 15, 30), span(3, 0, 50, 60)]
        self.assertEqual(stats.self_ms(spans),
                         {0: 60, 1: 15, 2: 15, 3: 10})

    def test_overlapping_children_count_once(self):
        spans = [span(0, -1, 0, 100), span(1, 0, 10, 60),
                 span(2, 0, 40, 80)]
        self.assertEqual(stats.self_ms(spans)[0], 30)

    def test_child_outside_parent_is_clipped(self):
        spans = [span(0, -1, 0, 100), span(1, 0, 90, 130)]
        self.assertEqual(stats.self_ms(spans)[0], 90)


class Attribution(unittest.TestCase):
    def test_events_count_in_the_span_they_start_in(self):
        s = span(0, -1, 1000, 2000, compiles=3, compile_ms=120.0)
        tasks = [[1100, 1500, 2e9, 400, 10, 7, 5, 0, 100],
                 [1400, 1900, 1e9, 500, 0, 3, 0, 64, 0],
                 [2100, 2200, 9e9, 100, 0, 0, 0, 0, 0]]
        c = stats.span_counters(s, tasks, jobs=[999, 1050, 1300],
                                stages=[[1060, 1500, 1, 2, "x"]],
                                plans=[[1040, 30], [2500, 99]])
        self.assertEqual(c["tasks"], 2)
        self.assertEqual(c["jobs"], 2)
        self.assertEqual(c["stages"], 1)
        self.assertAlmostEqual(c["task_cpu_s"], 3.0)
        self.assertAlmostEqual(c["task_run_s"], 0.9)
        self.assertEqual(c["shuffle_write_bytes"], 10)
        self.assertEqual(c["spill_bytes"], 64)
        self.assertAlmostEqual(c["driver_s"], 0.2)  # 1000 - 800 busy ms
        self.assertAlmostEqual(c["plan_s"], 0.03)
        self.assertAlmostEqual(c["codegen_compile_s"], 0.12)


class ExecutionsByFile(unittest.TestCase):
    def test_grouped_by_call_site_file_and_unioned(self):
        s = span(0, -1, 1000, 2000)
        execs = [[1100, 1300, "save at CsvToParquet.scala:31"],
                 [1200, 1400, "load at CsvToParquet.scala:20"],  # overlaps
                 [1500, 1900, "save at CuratedQuery.scala:113"],
                 [1950, 2300, "count at CuratedQuery.scala:9"],  # clipped
                 [900, 1050, "save at CsvToParquet.scala:31"]]  # before
        self.assertEqual(stats.exec_ms_by_file(execs, s),
                         {"CsvToParquet.scala": 300,
                          "CuratedQuery.scala": 450, "*": 750})

    def test_no_executions(self):
        self.assertEqual(stats.exec_ms_by_file([], span(0, -1, 0, 10)), {})


class EmptyRuns(unittest.TestCase):
    def test_median_and_ratio_of_nothing_are_zero(self):
        self.assertEqual(stats.median([]), 0.0)
        self.assertEqual(stats.ratio(5, 0), 0.0)
        self.assertEqual(stats.median([3, 1, 2]), 2)


class Generators(unittest.TestCase):
    def same_tree(self, a, b):
        names = sorted(os.listdir(a))
        self.assertEqual(names, sorted(os.listdir(b)))
        _, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
        self.assertEqual((mismatch, errors), ([], []))

    def test_same_seed_same_bytes(self):
        with tempfile.TemporaryDirectory() as t:
            for name, fn in [
                    ("etl", lambda d, s: gen.adventureworks(d, s, n_sales=3000)),
                    ("llm", lambda d, s: gen.corpus(d, s, n_docs=400,
                                                    n_batches=2, batch_docs=20)),
                    ("cat", lambda d, s: gen.catalog_tables(d))]:
                a, b, c = (os.path.join(t, f"{name}{i}") for i in range(3))
                self.assertEqual(fn(a, 7), fn(b, 7))
                self.same_tree(a, b)
                fn(c, 8)
                if name != "cat":  # the catalog tables take a fixed seed
                    self.assertFalse(filecmp.cmp(
                        os.path.join(a, sorted(os.listdir(a))[0]),
                        os.path.join(c, sorted(os.listdir(c))[0]),
                        shallow=False))

    def test_corpus_expectations_follow_planted_families(self):
        with tempfile.TemporaryDirectory() as t:
            s = gen.corpus(t, 3, n_docs=600, n_batches=3, batch_docs=40)
        fam = s["planted"]
        self.assertEqual(s["planted_duplicates"],
                         sum(v for k, v in fam.items() if k != "pii_docs"))
        self.assertTrue(all(v > 0 for v in fam.values()))
        self.assertEqual(s["expected_batch_survivors"], [20, 20, 20])

    def test_curated_rows_count_return_fanout(self):
        with tempfile.TemporaryDirectory() as t:
            s = gen.adventureworks(t, 5, n_sales=3000, n_returns=900)
            self.assertEqual(s["sales_rows"], 3000)
            self.assertGreater(s["expected_curated_rows"], 3000)


if __name__ == "__main__":
    unittest.main()
