"""Tests of the benchmark's own logic. Run from the repository root:

    python3 -m pytest perfbench        (or: python3 perfbench/test_perfbench.py)
"""
import json
import os
import sys
import unittest

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import metrics  # noqa: E402
import run  # noqa: E402
import steady  # noqa: E402


class TailPercentile(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        self.assertIsNone(metrics.tail(list(range(1, 20))))  # p50 has 9 beyond
        self.assertEqual(metrics.tail(list(range(1, 21))), (50, 10))

    def test_highest_qualifying_percentile(self):
        self.assertEqual(metrics.tail(list(range(1, 101))), (90, 90))
        self.assertEqual(metrics.tail(list(range(1, 200))), (90, 180))  # p95 has 9 beyond
        self.assertEqual(metrics.tail(list(range(1, 201))), (95, 190))

    def test_order_does_not_matter(self):
        xs = list(range(1, 101))
        self.assertEqual(metrics.tail(xs[::-1]), metrics.tail(xs))

    def test_timing_reports_count(self):
        t = metrics.timing([3.0, 1.0, 2.0])
        self.assertEqual((t["p50"], t["n"]), (2.0, 3))
        self.assertNotIn("tail", t)


class SpanSelfTime(unittest.TestCase):
    def test_children_cover_is_a_union_clipped_to_the_parent(self):
        parent = {"start": 0.0, "end": 10.0}
        kids = [{"start": 1.0, "end": 3.0}, {"start": 2.0, "end": 5.0},
                {"start": 8.0, "end": 12.0}]
        self.assertAlmostEqual(metrics.self_time(parent, kids), 10 - (4 + 2))

    def test_leaf_self_time_is_its_duration(self):
        self.assertAlmostEqual(metrics.self_time({"start": 1.0, "end": 1.5}, []), 0.5)

    def test_self_times_by_name(self):
        spans = [
            {"id": "w", "name": "wl", "parent": None, "start": 0.0, "end": 10.0},
            {"id": "o1", "name": "commit", "parent": "w", "start": 0.0, "end": 4.0},
            {"id": "o2", "name": "commit", "parent": "w", "start": 5.0, "end": 9.0},
            {"id": "j1", "name": "spark.job", "parent": "o1", "start": 1.0, "end": 2.0},
        ]
        s = metrics.self_times(spans)
        self.assertAlmostEqual(s["wl"], 2.0)
        self.assertAlmostEqual(s["commit"], 3.5)  # median of 3 and 4
        self.assertAlmostEqual(s["spark.job"], 1.0)


def traced_part():
    ops = [
        {"id": 0, "type": "commit", "start_ms": 1000, "end_ms": 2000, "wall_s": 1.0},
        {"id": 1, "type": "query", "start_ms": 3000, "end_ms": 3500, "wall_s": 0.5},
    ]
    jobs = [
        # carries its op as a local property, even though it starts late
        {"id": 10, "op": 0, "execution": 7, "start_ms": 1100, "end_ms": 1400, "stages": [20]},
        {"id": 11, "op": 0, "execution": 7, "start_ms": 1300, "end_ms": 1600, "stages": [21]},
        # run by a server thread: no property, matched by window
        {"id": 12, "op": None, "execution": 8, "start_ms": 3100, "end_ms": 3300, "stages": [22]},
        # outside every op
        {"id": 13, "op": None, "execution": None, "start_ms": 2500, "end_ms": 2600, "stages": []},
    ]
    stages = [{"id": 20, "tasks": 4.0, "task_s": 0.4}, {"id": 21, "tasks": 1.0, "task_s": 0.1},
              {"id": 22, "tasks": 2.0, "task_s": 0.2}]
    executions = [{"id": 7, "start_ms": 1050, "plan": 70}, {"id": 8, "start_ms": 3050, "plan": 80},
                  {"id": 9, "start_ms": 3400, "plan": 90}]  # no job: window
    plans = [{"id": 70, "analysis_s": 0.01, "planning_s": 0.02},
             {"id": 80, "analysis_s": 0.03, "files_scanned": 5},
             {"id": 90, "analysis_s": 0.04}]
    return {"ops": ops, "jobs": jobs, "stages": stages, "executions": executions, "plans": plans}


class JobAttribution(unittest.TestCase):
    def test_property_wins_then_window(self):
        part = traced_part()
        ops = part["ops"]
        self.assertEqual(metrics.op_for(ops, part["jobs"][0]), 0)
        self.assertEqual(metrics.op_for(ops, part["jobs"][2]), 1)
        self.assertIsNone(metrics.op_for(ops, part["jobs"][3]))

    def test_groups_jobs_stages_and_executions(self):
        g = metrics.attribute(traced_part())
        self.assertEqual([j["id"] for j in g[0]["jobs"]], [10, 11])
        self.assertEqual([s["id"] for s in g[0]["stages"]], [20, 21])
        self.assertEqual([x["id"] for x in g[1]["executions"]], [8, 9])
        self.assertEqual(g[1]["executions"][0]["files_scanned"], 5)

    def test_layers_of_an_op(self):
        part = traced_part()
        g = metrics.attribute(part)
        lay = metrics.layers(part["ops"][0], g[0])
        self.assertEqual(lay["spark.jobs"], 2)
        self.assertAlmostEqual(lay["spark.job_s"], 0.5)  # union of 1.1-1.4 and 1.3-1.6
        self.assertAlmostEqual(lay["driver.self_s"], 0.5)
        self.assertAlmostEqual(lay["spark.tasks"], 5.0)
        self.assertAlmostEqual(lay["catalyst.planning_s"], 0.02)
        self.assertEqual(lay["catalyst.actions"], 1)


class OutputParser(unittest.TestCase):
    RESULT = {"correct": True, "attempted": 3, "failed": 0,
              "metrics": {"setup_s": {"value": 1.5, "unit": "s"}}}

    def test_plain(self):
        text = "perfbench detail {\"n\": 1}\n" + json.dumps(self.RESULT) + "\n"
        self.assertEqual(metrics.parse_result(text), self.RESULT)

    def test_sbt_prefix_and_trailing_lines(self):
        text = ("[info] starting\n[info] " + json.dumps(self.RESULT) +
                "\n[success] Total time: 3 s\n")
        self.assertEqual(metrics.parse_result(text), self.RESULT)

    def test_tail_only_capture(self):
        full = "x" * 100 + "\nperfbench detail {\"a\": 2}\n" + json.dumps(self.RESULT)
        self.assertEqual(metrics.parse_result(full[-len(json.dumps(self.RESULT)) - 5:]), self.RESULT)

    def test_ignores_other_json(self):
        self.assertIsNone(metrics.parse_result('{"correct": true}\nnot json {\n'))


class ComparisonRule(unittest.TestCase):
    def test_gain_needs_nine_of_ten_and_a_gap_beyond_parent_iqr(self):
        parent = [10.0, 10.2, 9.8, 10.1, 9.9, 10.0, 10.3, 9.7, 10.1, 10.0]
        change = [x - 1.0 for x in parent]
        self.assertEqual(steady.verdict(parent, change, "lower", 0.1)[0], "improved")
        mixed = change[:8] + [11.0, 11.0]
        self.assertEqual(steady.verdict(parent, mixed, "lower", 0.1)[0], "no change")

    def test_regression_beyond_bound(self):
        parent = [1.0] * 5 + [1.01] * 5
        self.assertEqual(steady.verdict(parent, [1.3] * 10, "lower", 0.1)[0], "regressed")

    def test_unresolved_when_spread_exceeds_bound(self):
        parent = [1.0, 2.0, 1.0, 2.0, 1.5, 1.0, 2.0, 1.5, 1.2, 1.8]
        change = [1.1, 1.9, 1.0, 2.1, 1.4, 1.0, 2.0, 1.6, 1.2, 1.7]
        self.assertEqual(steady.verdict(parent, change, "lower", 0.1)[0], "unresolved")

    def test_higher_is_better(self):
        parent = [100.0 + i for i in range(10)]
        change = [200.0 + i for i in range(10)]
        self.assertEqual(steady.verdict(parent, change, "higher", None)[0], "improved")


class EndToEnd(unittest.TestCase):
    REPORT = {
        "workload": "query_mixed", "session_s": 5.0, "prepare_s": 1.0, "warmup_s": 2.0,
        "fixture_s": 3.0, "heap_peak_mb": 200.0, "heap_live_mb": 90.0, "summary": {},
        "untraced": {"ops": [
            {"type": "query", "kind": "point", "wall_s": 0.1, "ok": True},
            {"type": "query", "kind": "point", "wall_s": 0.3, "ok": True},
            {"type": "query", "kind": "join", "wall_s": 0.8, "ok": True},
            {"type": "query", "kind": "join", "wall_s": 9.0, "ok": False},
            {"type": "ingest", "wall_s": 1.0, "ok": True},
        ]},
    }

    def test_setup_is_the_sum_of_its_steps(self):
        values, _ = run.end_to_end(self.REPORT)
        self.assertAlmostEqual(values["setup_s"], 11.0)

    def test_mixed_kinds_take_the_geometric_mean_of_their_medians(self):
        values, _ = run.end_to_end(self.REPORT)
        self.assertAlmostEqual(values["op_p50_s"], (0.2 * 0.8) ** 0.5)

    def test_work_is_count_times_median_per_kind_of_successful_ops(self):
        values, detail = run.end_to_end(self.REPORT)
        self.assertAlmostEqual(values["work_s"], 2 * 0.2 + 0.8 + 1.0)
        self.assertEqual(detail["query_s"]["n"], 3)
        self.assertEqual((values["heap_peak_mb"], detail["heap_live_mb"]), (200.0, 90.0))


class Spec(unittest.TestCase):
    def test_benchmark_json_matches_the_reported_metrics(self):
        with open(os.path.join(HERE, "..", "BENCHMARK.json")) as fh:
            spec = json.load(fh)
        self.assertEqual({(m["name"], m["unit"]) for m in spec["end_to_end"]}, set(run.END_TO_END))
        self.assertEqual({m["name"]: m["unit"] for m in spec["per_layer"]}, run.per_layer_units())
        self.assertEqual({w["name"] for w in spec["workloads"]}, set(run.MAIN_OP))


class Helpers(unittest.TestCase):
    def test_union_and_slope(self):
        self.assertAlmostEqual(metrics.union_length([(0, 1), (0.5, 2), (3, 4)]), 3.0)
        self.assertAlmostEqual(metrics.slope([(1, 3), (2, 5), (3, 7)]), 2.0)
        self.assertEqual(metrics.slope([(1, 3), (1, 5)]), 0.0)


if __name__ == "__main__":
    unittest.main()
