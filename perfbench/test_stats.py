"""Self-tests of the benchmark's arithmetic and of BENCHMARK.json.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import json
import os
import shutil
import statistics
import tempfile
import unittest

import stats

HERE = os.path.dirname(os.path.abspath(__file__))


class TailTest(unittest.TestCase):
    def test_hundred_samples_is_p90_with_ten_beyond(self):
        xs = list(range(1, 101))
        value, pct, n = stats.tail(xs)
        self.assertEqual((value, pct, n), (90, 90.0, 100))
        self.assertEqual(sum(1 for x in xs if x > value), 10)

    def test_more_samples_raise_the_percentile(self):
        value, pct, n = stats.tail(list(range(1000)))
        self.assertEqual((value, pct, n), (989, 99.0, 1000))

    def test_order_does_not_matter(self):
        xs = [5.0, 1.0, 9.0] * 40
        self.assertEqual(stats.tail(xs), stats.tail(sorted(xs)))

    def test_too_few_samples_fall_back_to_the_maximum(self):
        self.assertEqual(stats.tail([3.0, 1.0, 2.0]), (3.0, 100.0, 3))
        self.assertEqual(stats.tail(list(range(99)))[1:], (100.0, 99))

    def test_median(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 2, 3]), 2.5)

    def test_geomean(self):
        self.assertAlmostEqual(stats.geomean([1.0, 4.0, 16.0]), 4.0)
        with self.assertRaises(ValueError):
            stats.geomean([1.0, 0.0])


class FreshnessTest(unittest.TestCase):
    def setUp(self):
        self.dir = tempfile.mkdtemp()
        src = os.path.join(self.dir, "sources", "0")
        os.makedirs(src)
        # batch 0 in a plain log file, batches 1-2 rolled into a compact file
        with open(os.path.join(src, "0"), "w") as f:
            f.write('v1\n{"path":"file:///w/a.parquet","timestamp":1,"batchId":0}\n')
        with open(os.path.join(src, "2.compact"), "w") as f:
            f.write('v1\n{"path":"file:///w/b.parquet","timestamp":2,"batchId":1}\n'
                    '{"path":"file:///w/c.parquet","timestamp":3,"batchId":2}\n'
                    '{"path":"file:///w/d.parquet","timestamp":3,"batchId":2}\n')

    def tearDown(self):
        shutil.rmtree(self.dir)

    def test_source_log_maps_each_file_to_its_batch(self):
        self.assertEqual(stats.source_log(self.dir),
                         {"a.parquet": 0, "b.parquet": 1, "c.parquet": 2, "d.parquet": 2})

    def test_freshness_runs_from_due_time_to_the_sink_return_of_its_batch(self):
        fb = stats.source_log(self.dir)
        gen = [("b.parquet", 1000000, 1000500), ("c.parquet", 1100000, 1100100),
               ("d.parquet", 1200000, 1203000)]
        calls = [(0, 0, 900000), (1, 1050000, 1400000), (2, 1500000, 2000000)]
        self.assertEqual(stats.freshness_ms(gen, calls, fb), [400.0, 900.0, 800.0])
        self.assertEqual(stats.generator_late_ms(gen), 3.0)
        self.assertEqual(stats.files_per_batch_max(fb), 2)
        self.assertEqual(stats.files_per_batch_max(fb, {"a.parquet", "b.parquet"}), 1)

    def test_exactly_once_checks(self):
        fb = stats.source_log(self.dir)
        released = [("a.parquet", "p0"), ("b.parquet", "p1"), ("c.parquet", "p0"),
                    ("d.parquet", "p1")]
        rows = {"p0": 3, "p1": 4}
        ok = [([0], 3), ([1], 4), ([2], 7)]
        self.assertEqual(stats.check_batches(fb, released, rows, ok), [])
        # a no-data batch (3) may commit nothing
        self.assertEqual(stats.check_batches(fb, released, rows, ok + [([3], 0)]), [])
        # a rewrite manifest carries the rows of every batch it covers
        self.assertEqual(stats.check_batches(fb, released, rows, [([0, 1], 7), ([2], 7)]), [])
        self.assertEqual(len(stats.check_batches(fb, released, rows, [([0], 3), ([1], 4), ([2], 8)])), 1)
        self.assertEqual(len(stats.check_batches(fb, released, rows, [([0], 3), ([2], 7)])), 1)
        self.assertEqual(len(stats.check_batches(fb, released, rows, ok + [([2], 7)])), 1)
        self.assertEqual(len(stats.check_batches(fb, released[:3], rows, ok)), 2)


class MismatchTest(unittest.TestCase):
    def test_symmetric_difference(self):
        self.assertEqual(stats.mismatch(["a", "b", "c"], ["b", "c", "d", "e"]), 3)
        self.assertEqual(stats.mismatch(["a"], ["a"]), 0)

    def test_counts_multiplicity(self):
        self.assertEqual(stats.mismatch(["a", "a"], ["a"]), 1)


class SelfTimeTest(unittest.TestCase):
    def test_self_time_subtracts_the_union_of_children(self):
        spans = [
            {"id": "w", "parent": "", "name": "workload", "start_us": 0, "end_us": 10000},
            {"id": "q1", "parent": "w", "name": "query", "start_us": 1000, "end_us": 5000},
            {"id": "p", "parent": "q1", "name": "plan", "start_us": 1000, "end_us": 2000},
            {"id": "j1", "parent": "q1", "name": "job", "start_us": 1500, "end_us": 3000},
            {"id": "j2", "parent": "q1", "name": "job", "start_us": 4000, "end_us": 6000},
        ]
        st = stats.self_times_ms(spans)
        self.assertEqual(st["w"], 6.0)
        self.assertEqual(st["q1"], 1.0)  # children cover 1000-3000 and 4000-5000
        self.assertEqual(st["j2"], 2.0)
        self.assertEqual(stats.self_time_by_name(spans)["job"], 3.5)


class GroupTest(unittest.TestCase):
    def test_group_sums(self):
        per_query = {"q1": 1.5, "q2": 0.25, "q3": 2.0}
        groups = {"audio": ["q1", "q2"], "event": ["q3", "missing"]}
        self.assertEqual(stats.group_sums(per_query, groups), {"audio": 1.75, "event": 2.0})

    def test_overhead(self):
        self.assertAlmostEqual(stats.overhead_pct(100.0, 90.0), 10.0)
        self.assertAlmostEqual(stats.overhead_pct(100.0, 110.0), -10.0)

    def test_spread_matches_the_driver_rule(self):
        xs = [10.0, 11.0, 9.0, 10.5, 9.5, 10.2, 9.8, 10.1, 9.9, 10.0]
        q = statistics.quantiles(xs, n=4)
        self.assertAlmostEqual(stats.spread(xs), (q[2] - q[0]) / statistics.median(xs))


class SpecTest(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
            self.spec = json.load(f)

    def test_keys_and_bounds(self):
        self.assertEqual(set(self.spec), {"command", "paths", "run_seconds", "workloads",
                                          "end_to_end", "per_layer"})
        e2e = {m["name"]: m for m in self.spec["end_to_end"]}
        self.assertEqual((e2e["setup_s"]["unit"], e2e["setup_s"]["better"]), ("s", "lower"))
        self.assertEqual(e2e["setup_s"]["bound"], max(m["bound"] for m in e2e.values()))
        for m in e2e.values():
            self.assertLessEqual(m["bound"], 0.25)

    def test_names_are_unique_and_well_formed(self):
        import re
        names = [w["name"] for w in self.spec["workloads"]] + \
            [m["name"] for m in self.spec["end_to_end"] + self.spec["per_layer"]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
        for m in self.spec["end_to_end"] + self.spec["per_layer"]:
            self.assertIsNotNone(re.fullmatch(r"[A-Za-z0-9_/%.-]{1,16}", m["unit"]), m["unit"])
            self.assertIn(m["better"], ("higher", "lower"))
        for w in self.spec["workloads"]:
            self.assertLessEqual(len(w["why"]), 200)

    def test_per_query_metrics_name_the_selected_queries(self):
        import re
        with open(os.path.join(HERE, "src", "main", "scala", "perfbench", "Main.scala")) as f:
            src = f.read()
        block = re.search(r"val Selected: Seq\[String\] = Seq\(([^)]*)\)", src).group(1)
        selected = set(re.findall(r'"([a-z0-9_]+)"', block))
        queries = {m["name"][2:-2] for m in self.spec["per_layer"] if m["name"].startswith("q.")}
        self.assertEqual(queries, selected)

    def test_every_benchmarked_query_has_a_pinned_count(self):
        with open(os.path.join(HERE, "expected_counts.json")) as f:
            pinned = json.load(f)
        queries = {m["name"][2:-2] for m in self.spec["per_layer"] if m["name"].startswith("q.")}
        self.assertLessEqual(queries, set(pinned))


if __name__ == "__main__":
    unittest.main()
