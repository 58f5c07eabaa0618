"""Tests of the benchmark's own arithmetic, plus a short smoke run of each
workload on a three-query list at sf0.001.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

The smoke tests build the library on first use; set PERFBENCH_SMOKE=0 to
run only the arithmetic tests.
"""
import json
import os
import re
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import metrics  # noqa: E402
import workloads  # noqa: E402


class TailRule(unittest.TestCase):
    def test_p90_from_100_samples(self):
        self.assertEqual(metrics.tail_percentile(100), (90.0, 10))

    def test_p75_just_below_100(self):
        self.assertEqual(metrics.tail_percentile(99), (75.0, 24))

    def test_higher_rungs_with_more_samples(self):
        self.assertEqual(metrics.tail_percentile(200), (95.0, 10))
        self.assertEqual(metrics.tail_percentile(1000), (99.0, 10))
        self.assertEqual(metrics.tail_percentile(10000), (99.9, 10))

    def test_every_choice_leaves_ten_beyond(self):
        for n in range(20, 3000):
            p, k = metrics.tail_percentile(n)
            self.assertGreaterEqual(k, 10)
            higher = [q for q in metrics.TAIL_LADDER if q > p]
            self.assertTrue(all(metrics.beyond(n, q) < 10 for q in higher), n)

    def test_each_workload_reports_one_fixed_percentile(self):
        # The rung comes from the sample count every run reaches; runs that
        # make more passes keep it and only get more samples beyond it.
        for name, w in workloads.WORKLOADS.items():
            n = workloads.MIN_PASSES * len(w["queries"])
            p, k = metrics.tail_percentile(n)
            self.assertGreaterEqual(k, 10, name)
            self.assertGreater(p, 50.0, name)
            self.assertTrue(all(metrics.beyond(m, p) >= k for m in range(n, 3 * n)), name)

    def test_few_samples_fall_back_to_median(self):
        self.assertEqual(metrics.tail_percentile(12), (50.0, 6))

    def test_percentile_counts_beyond(self):
        xs = list(range(1, 101))
        self.assertEqual(metrics.percentile(xs, 90), 90)
        self.assertEqual(sum(1 for x in xs if x > metrics.percentile(xs, 90)), 10)


class SelfTime(unittest.TestCase):
    def test_no_children(self):
        self.assertEqual(metrics.self_time((0, 10), []), 10)

    def test_disjoint_children(self):
        self.assertEqual(metrics.self_time((0, 10), [(1, 3), (5, 6)]), 7)

    def test_overlapping_children_count_once(self):
        self.assertEqual(metrics.self_time((0, 10), [(1, 5), (3, 7), (4, 6)]), 4)

    def test_children_past_the_parent_are_clipped(self):
        self.assertEqual(metrics.self_time((0, 10), [(-5, 2), (8, 20)]), 6)

    def test_nested_and_identical_children(self):
        self.assertEqual(metrics.self_time((0, 10), [(2, 8), (3, 4), (2, 8)]), 4)

    def test_layers_add_up_to_the_query(self):
        rec = {"t0": 0, "t1": 100, "t2": 150, "t3": 1000, "name": "agg_x"}
        stage = dict(tasks_done=2, task_s=0.5, run_s=0.4, cpu_s=0.3, gc_s=0.0,
                     shuffle_read_mb=0, shuffle_write_mb=0, fetch_wait_s=0, spill_mb=0,
                     input_mb=1, input_rows=10)
        jobs = [{"id": 1, "start": 20, "end": 60, "stages": [1]},
                {"id": 2, "start": 200, "end": 900, "stages": [2, 3, 4]},
                {"id": 3, "start": 250, "end": 950, "stages": [5]}]
        stages = [dict(stage, id=1, job=1, submit=25, complete=55),
                  dict(stage, id=2, job=2, submit=210, complete=500),
                  dict(stage, id=3, job=2, submit=400, complete=800),
                  dict(stage, id=5, job=3, submit=300, complete=940)]
        row = metrics.query_layers(rec, jobs, stages, cpus=4)
        parts = sum(row[k] for k in ("self.query_s", "self.build_s", "self.plan_s",
                                     "self.execute_s", "self.job_s", "self.stage_s"))
        self.assertAlmostEqual(parts, row["total_s"])
        self.assertAlmostEqual(row["self.stage_s"], 0.030 + 0.730)
        self.assertAlmostEqual(row["self.job_s"], 0.010 + 0.020)
        self.assertEqual(row["ops.build_jobs"], 1)
        self.assertEqual(row["sched.stages_skipped"], 1)


class PlanShapeDiff(unittest.TestCase):
    def row(self, name, ran, initial, text, cached=0):
        rec = {"t0": 0, "t1": 10, "t2": 20, "t3": 100, "name": name, "shuffle_exchanges": ran,
               "initial_shuffles": initial, "text_shuffles": text, "cached_relations": cached}
        row = metrics.query_layers(rec, [], [], cpus=4)
        row["name"] = name
        return row

    def test_text_count_is_compared_with_the_initial_plan(self):
        rows = [self.row("a", ran=1, initial=2, text=2),   # AQE changed the plan: no diff
                self.row("b", ran=2, initial=2, text=3),   # text miscounts: diff
                self.row("c", ran=1, initial=1, text=9, cached=1)]  # cached: not compared
        tot = metrics.pass_layers(rows, cpus=4)
        self.assertEqual(tot["plans.text_shuffle_diffs"], 1)
        self.assertEqual(tot["plans.shuffle_exchanges"], 4)


class Workloads(unittest.TestCase):
    def test_lists_are_unique_and_nonempty(self):
        for name, w in workloads.WORKLOADS.items():
            self.assertTrue(w["queries"], name)
            self.assertEqual(len(w["queries"]), len(set(w["queries"])), name)

    def test_references_cover_every_listed_query(self):
        lists = [(w["sf"], w["queries"]) for w in workloads.WORKLOADS.values()]
        lists += [(workloads.SMOKE_SF, q) for q in workloads.SMOKE_QUERIES.values()]
        for sf, names in lists:
            with open(os.path.join(HERE, "refs", sf + ".json")) as f:
                refs = json.load(f)
            self.assertEqual([q for q in names if q not in refs["queries"]], [], sf)


@unittest.skipIf(os.environ.get("PERFBENCH_SMOKE") == "0", "smoke runs disabled")
class Smoke(unittest.TestCase):
    def run_bench(self, workload, trace):
        cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
               "--seed", "3", "--seconds", "2", "--trace", str(trace), "--sf", workloads.SMOKE_SF,
               "--queries", ",".join(workloads.SMOKE_QUERIES[workload])]
        p = subprocess.run(cmd, capture_output=True, text=True, timeout=900)
        self.assertEqual(p.returncode, 0, p.stderr[-3000:])
        return p.stdout.strip().splitlines()

    def test_every_workload_prints_every_metric(self):
        with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
            bench = json.load(f)
        for workload in workloads.WORKLOADS:
            for trace, section in ((0, "end_to_end"), (1, "per_layer")):
                with self.subTest(workload=workload, trace=trace):
                    lines = self.run_bench(workload, trace)
                    result = json.loads(lines[-1])
                    self.assertTrue(result["correct"], lines)
                    self.assertEqual(result["failed"], 0)
                    self.assertGreaterEqual(result["attempted"], 3)
                    want = {m["name"]: m["unit"] for m in bench[section]}
                    got = {k: v["unit"] for k, v in result["metrics"].items()}
                    self.assertEqual(got, want)
                    if trace == 0:
                        for name, unit in want.items():
                            self.assertTrue(any(re.match(rf"{re.escape(name)} \S+ {re.escape(unit)}\b", l)
                                                for l in lines), name)
                        self.assertIn("failed_frac 0.0000 ratio", lines)


if __name__ == "__main__":
    unittest.main()
