"""The benchmark's own laws. Run from the repository root:

    python3 -m unittest discover loadbench/tests
"""

import glob
import json
import os
import re
import sys
import unittest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import build  # noqa: E402
import report  # noqa: E402
import stats  # noqa: E402
import workloads  # noqa: E402


with open(os.path.join(ROOT, "src/test/resources/golden/sf0.01.json")) as f:
    GOLDEN = json.load(f)


def registry_names():
    names = set()
    for path in glob.glob(os.path.join(ROOT, "src/main/scala/graft/queries/*.scala")):
        with open(path) as f:
            names |= set(re.findall(r'QueryDef\(\s*"([^"]+)"', f.read()))
    return names


class PercentileRule(unittest.TestCase):
    def test_no_tail_without_ten_samples_beyond_it(self):
        self.assertIsNone(stats.tail_percentile(0))
        self.assertIsNone(stats.tail_percentile(99))
        self.assertEqual(stats.tail_percentile(100), 90.0)
        self.assertEqual(stats.tail_percentile(999), 90.0)
        self.assertEqual(stats.tail_percentile(1000), 99.0)
        self.assertEqual(stats.tail_percentile(10000), 99.9)

    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 90), 90)
        self.assertEqual(stats.percentile(xs, 50), 50)
        self.assertEqual(stats.percentile([3.0], 90), 3.0)

    def test_median(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 2, 3]), 2.5)
        with self.assertRaises(ValueError):
            stats.median([])


class GeometricMean(unittest.TestCase):
    def test_values(self):
        self.assertAlmostEqual(stats.geomean([1.0, 4.0]), 2.0)
        self.assertAlmostEqual(stats.geomean([2.0, 2.0, 2.0]), 2.0)
        self.assertAlmostEqual(stats.geomean([0.5, 8.0]), 2.0)

    def test_weighs_every_query_the_same(self):
        # halving one short query moves the geomean as much as halving
        # a long one
        a = stats.geomean([0.5, 10.0])
        b = stats.geomean([1.0, 5.0])
        self.assertAlmostEqual(a, b)

    def test_rejects_non_positive(self):
        for xs in ([], [1.0, 0.0], [-1.0]):
            with self.assertRaises(ValueError):
                stats.geomean(xs)


class SeededOrder(unittest.TestCase):
    def test_same_seed_same_order(self):
        self.assertEqual(workloads.pass_orders(8, 7, 20),
                         workloads.pass_orders(8, 7, 20))

    def test_seed_sets_the_order(self):
        self.assertNotEqual(workloads.pass_orders(8, 1, 20),
                            workloads.pass_orders(8, 2, 20))

    def test_every_pass_runs_every_query_once(self):
        for order in workloads.pass_orders(10, 3, 30):
            self.assertEqual(sorted(order), list(range(10)))

    def test_every_named_query_is_registered(self):
        names = registry_names()
        self.assertEqual(names, set(GOLDEN))  # the extraction finds them all
        used = [q for w in workloads.WORKLOADS.values() for q in w.mix]
        used += [workloads.STREAM_PROBE, *build.TRAIN_MIX]
        self.assertEqual([q for q in used if q not in names], [])

    def test_golden_file_covers_every_mix_query(self):
        for w in workloads.WORKLOADS.values():
            self.assertEqual([q for q in w.mix if q not in GOLDEN], [])


def execution(query, pass_no, t0, build=10.0, plan=2.0, exec_=30.0,
              measure=5.0, cleanup=1.0, rows=6, traced=True):
    marks = [t0]
    for d in (build, plan, exec_, measure, cleanup):
        marks.append(marks[-1] + d)
    return {
        "kind": "exec", "query": query, "pass": pass_no, "warm": False,
        "traced": traced, "build_ms": marks[0], "plan_ms": marks[1],
        "exec_ms": marks[2], "end_ms": marks[3],
        "cleanup_start_ms": marks[4], "cleanup_end_ms": marks[5],
        "rows": rows, "cpu_s": 0.1, "heap_live_mb": 100.0, "error": None,
    }


class TraceLaw(unittest.TestCase):
    def test_self_times_add_up_to_wall_time(self):
        root = ("query", 0.0, 100.0)
        children = [("build", 0.0, 30.0), ("exec", 35.0, 90.0),
                    ("cleanup", 90.0, 97.0)]
        st = stats.self_times(root, children)
        self.assertAlmostEqual(st["query"], 8.0)  # the recorded residual
        self.assertAlmostEqual(sum(st.values()), 100.0)
        self.assertEqual(stats.check_law(root, children, 0.0), [])

    def test_overlap_and_escape_break_the_law(self):
        root = ("query", 0.0, 100.0)
        self.assertTrue(stats.check_law(
            root, [("build", 0.0, 60.0), ("exec", 50.0, 90.0)], 0.0))
        self.assertTrue(stats.check_law(root, [("exec", 50.0, 120.0)], 0.0))

    def test_union_of_overlapping_jobs(self):
        self.assertEqual(stats.union_length([(0, 10), (5, 15), (20, 30)]), 25)
        self.assertEqual(stats.union_length([]), 0)

    def test_recorded_runs_obey_the_law(self):
        w = workloads.WORKLOADS["olap_batch"]
        e1 = execution(w.mix[0], 0, 1000.0)
        e2 = execution(w.mix[1], 0, e1["cleanup_end_ms"] + 0.5)
        run = report.Run([
            e1, e2,
            {"kind": "pass", "pass": 0, "warm": False, "traced": True,
             "start_ms": 999.0, "end_ms": e2["cleanup_end_ms"] + 1.0,
             "cpu_s": 0.2, "steal_pct": 0.0},
            {"kind": "job", "job": 1, "query": w.mix[0], "pass": "0",
             "phase": "exec", "start_ms": e1["exec_ms"] + 1,
             "end_ms": e1["end_ms"] - 1},
        ], w, GOLDEN)
        self.assertEqual(run.law_violations(), [])
        stray = dict(run.by_kind["job"][0], end_ms=e1["cleanup_end_ms"] + 50)
        run.by_kind["job"] = [stray]
        self.assertEqual(len(run.law_violations()), 1)


class EndToEnd(unittest.TestCase):
    def test_metrics_of_a_recorded_run(self):
        w = workloads.WORKLOADS["olap_batch"]
        q = w.mix[0]
        records = [{"kind": "timed_start", "ms": 5000.0, "tmp_entries": 0}]
        t = 5000.0
        for p, rows in ((0, 6), (1, 7)):
            e = execution(q, p, t, build=100.0, plan=0.0, exec_=900.0,
                          rows=rows, traced=False)
            records.append(e)
            records.append({"kind": "pass", "pass": p, "warm": False,
                            "traced": False, "start_ms": t,
                            "end_ms": e["cleanup_end_ms"], "cpu_s": 2.0,
                            "steal_pct": 0.0})
            t = e["cleanup_end_ms"]
        m = report.Run(records, w, GOLDEN).end_to_end(spawn_ms=1000.0)
        self.assertAlmostEqual(m["setup_s"], 4.0)
        self.assertAlmostEqual(m["pass_s"], 1.0)
        self.assertAlmostEqual(m["query_geomean_s"], 1.0)
        # pass 1 returned a row count other than the golden one
        self.assertAlmostEqual(m["ok_frac"], 0.5)
        self.assertEqual(set(m), set(report.END_TO_END))


class Contract(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            self.spec = json.load(f)

    def test_metrics_match_the_report(self):
        e2e = {m["name"]: m["unit"] for m in self.spec["end_to_end"]}
        layer = {m["name"]: m["unit"] for m in self.spec["per_layer"]}
        self.assertEqual(e2e, report.END_TO_END)
        self.assertEqual(layer, report.PER_LAYER)
        self.assertLessEqual(max(m["bound"] for m in self.spec["end_to_end"]),
                             0.25)

    def test_workloads_match(self):
        self.assertEqual({w["name"]: w["why"] for w in self.spec["workloads"]},
                         {n: w.why for n, w in workloads.WORKLOADS.items()})


if __name__ == "__main__":
    unittest.main()
