"""Tests of the benchmark's own arithmetic.

    python3 -m unittest discover -s graftperf -p 'test_*.py'
"""

import json
import statistics
import unittest
from pathlib import Path

import metrics

HERE = Path(__file__).resolve().parent


class Stats(unittest.TestCase):
    def test_median_and_quartiles_match_statistics(self):
        xs = [5.0, 1.0, 4.0, 2.0, 3.0, 9.0, 7.0, 6.0, 8.0, 10.0]
        self.assertEqual(metrics.median(xs), 5.5)
        self.assertEqual(metrics.quartiles(xs), tuple(statistics.quantiles(xs, n=4)))
        q1, q2, q3 = metrics.quartiles(xs)
        self.assertEqual((q1, q2, q3), (2.75, 5.5, 8.25))

    def test_percentile(self):
        xs = list(range(1, 101))
        self.assertAlmostEqual(metrics.percentile(xs, 50), 50.5)
        self.assertAlmostEqual(metrics.percentile(xs, 90), 90.1)
        self.assertEqual(metrics.percentile([7], 90), 7.0)


class Intervals(unittest.TestCase):
    def test_union_merges_overlaps_and_keeps_gaps(self):
        self.assertEqual(metrics.union_length([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(metrics.union_length([(20, 25), (0, 10), (10, 12)]), 17)
        self.assertEqual(metrics.union_length([(3, 3), (4, 2)]), 0)
        self.assertEqual(metrics.union_length([]), 0)

    def test_nested_intervals_count_once(self):
        self.assertEqual(metrics.union_length([(0, 100), (10, 20), (30, 40)]), 100)

    def test_self_time_subtracts_clipped_child_union(self):
        # span [100, 200]; children cover 90-120 (20 inside), 150-160 and
        # 155-170 (20 together), and 250-300 (outside)
        children = [(90, 120), (150, 160), (155, 170), (250, 300)]
        self.assertEqual(metrics.self_time(100, 200, children), 60)
        self.assertEqual(metrics.self_time(100, 200, []), 100)
        self.assertEqual(metrics.self_time(100, 200, [(0, 500)]), 0)


class Loops(unittest.TestCase):
    def test_checkpoint_supersteps_are_every_tenth(self):
        iters = list(range(1, 13))
        walls = [100, 110, 90, 100, 105, 95, 100, 100, 100, 600, 100, 100]
        self.assertEqual(metrics.ckpt_extra_ms(iters, walls), 600 - 100)

    def test_checkpoint_attribution_follows_the_iteration_not_the_position(self):
        # a resumed loop starts at superstep 41: superstep 50 is the 10th
        iters = list(range(41, 53))
        walls = [100] * 9 + [400] + [100, 100]
        self.assertEqual(metrics.ckpt_extra_ms(iters, walls), 300)
        self.assertEqual(metrics.ckpt_extra_ms([41, 42], [100, 100]), None)
        self.assertEqual(metrics.ckpt_extra_ms([10, 20], [300, 300]), None)

    def test_edges_per_s(self):
        # 1,000 symmetrized edges visited by each of 12 supersteps in 3 s
        self.assertEqual(metrics.edges_per_s(1000, 12, 3.0), 4000.0)

    def test_loop_rates_pool_the_loops_of_an_operation(self):
        op = {"loops": [
            {"wall_ms": [100, 100, 200], "sym_edges": 50},
            {"wall_ms": [100], "sym_edges": 50},
            {"wall_ms": [], "sym_edges": 50},
        ]}
        eps, sps = metrics.loop_rates(op)
        self.assertAlmostEqual(eps, 50 * 4 / 0.5)
        self.assertAlmostEqual(sps, 4 / 0.5)
        self.assertIsNone(metrics.loop_rates({"loops": []}))


class Skew(unittest.TestCase):
    def test_skew_weights_stages_by_time(self):
        stages = [{"task_ms_max": 100, "task_ms_median": 10},
                  {"task_ms_max": 20, "task_ms_median": 20}]
        self.assertEqual(metrics.skew(stages), 120 / 30)
        self.assertEqual(metrics.skew([]), 1.0)


def _trace():
    """One traced operation: a 3-superstep loop whose call runs 1000-2000 ms.
    Job 1 is the cache build before the loop; each superstep ends with one
    `count` execution (execs 11-13); job 5 belongs to a save in superstep 3."""
    def job(i, exec_id, s, e):
        return {"id": i, "span": 2, "exec": exec_id, "start_ms": s, "end_ms": e, "stages": [i]}
    jobs = [job(1, 10, 1000, 1300), job(2, 11, 1350, 1500), job(3, 12, 1560, 1700),
            job(5, 14, 1720, 1800), job(4, 13, 1820, 1950)]
    execs = [{"id": 10, "desc": "count at IterCache.scala:1", "func": "count", "plan_ms": 5},
             {"id": 11, "desc": "count at PageRank.scala:1", "func": None, "plan_ms": -1},
             {"id": 12, "desc": "count at PageRank.scala:1", "func": "count", "plan_ms": 7},
             {"id": 13, "desc": "count at PageRank.scala:1", "func": "count", "plan_ms": 9},
             {"id": 14, "desc": "parquet at TableIO.scala:1", "func": "command", "plan_ms": 2}]
    stages = [{"id": i, "tasks": 2, "run_ms": 40, "task_ms_max": 30, "task_ms_median": 10,
               "shuffle_write_b": 1_000_000, "spill_b": 0} for i in range(1, 6)]
    spans = [{"id": 1, "parent": 0, "op": 0, "name": "op", "layer": "op",
              "start_ms": 900, "end_ms": 2100},
             {"id": 2, "parent": 1, "op": 0, "name": "algo.pagerank", "layer": "graft.algo",
              "start_ms": 1000, "end_ms": 2050}]
    loop = {"name": "pagerank", "checkpointed": True, "start_ms": 1000, "end_ms": 2000,
            "iters": [1, 2, 3], "wall_ms": [180, 200, 250], "sym_edges": 100}
    op = {"index": 0, "traced": True, "wall_s": 1.2, "cpu_s": 2.0, "gc_s": 0.01, "heap_live_mb": 80.0,
          "ok": True, "checks": [],
          "docs": 10, "counts": {}, "loops": [loop]}
    return op, {"spans": spans, "jobs": jobs, "execs": execs, "stages": stages}


class Trace(unittest.TestCase):
    def test_loop_starts_at_the_first_convergence_action(self):
        op, trace = _trace()
        t = metrics.OpTrace(op, trace)
        loop = op["loops"][0]
        jobs = t.loop_jobs(loop)
        self.assertEqual(sorted(j["id"] for j in jobs), [2, 3, 4, 5])
        # superstep 1 ends with exec 11's last job (1500) and lasted 180 ms
        self.assertEqual(t.loop_window(loop, jobs), (1320, 2000))

    def test_per_layer_loop_metrics(self):
        op, trace = _trace()
        out = metrics.per_op_layers(op, trace, cores=4)
        self.assertEqual(out["core.supersteps"], 3)
        self.assertAlmostEqual(out["core.pre_loop_s"], (1000 - 630) / 1000)
        # jobs inside the window cover 150 + 140 + 80 + 130 = 500 ms of 630
        self.assertAlmostEqual(out["core.driver_ms_per_superstep"], (630 - 500) / 3)
        self.assertAlmostEqual(out["core.jobs_per_superstep"], 4 / 3)
        self.assertAlmostEqual(out["core.plan_ms_per_superstep"], (7 + 9 + 2) / 3)
        self.assertAlmostEqual(out["core.shuffle_mb_per_superstep"], 4 / 3)
        self.assertEqual(out["core.task_skew"], 3.0)
        self.assertEqual(out["algo.pagerank_iters"], 3)
        self.assertAlmostEqual(out["spark.driver_s"], (1200 - 800) / 1000)

    def test_span_lines_carry_self_time(self):
        op, trace = _trace()
        lines = {s["name"]: s for s in metrics.span_lines({"trace": trace})}
        self.assertEqual(lines["op"]["jobs"], 5)
        self.assertEqual(lines["algo.pagerank"]["dur_ms"], 1050)
        self.assertEqual(lines["algo.pagerank"]["self_ms"], 1050 - 800)


class Manifest(unittest.TestCase):
    def test_benchmark_json_lists_the_metrics_the_benchmark_prints(self):
        bench = json.loads((HERE.parent / "BENCHMARK.json").read_text())
        self.assertEqual({m["name"]: m["unit"] for m in bench["end_to_end"]}, metrics.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in bench["per_layer"]}, metrics.PER_LAYER)
        setup = [m for m in bench["end_to_end"] if m["name"] == "setup_s"][0]
        self.assertEqual(setup["bound"], max(m["bound"] for m in bench["end_to_end"]))

    def test_layer_map_covers_every_per_layer_metric(self):
        layers = json.loads((HERE / "layers.json").read_text())
        mapped = {m for layer in layers["layers"].values() for m in layer["metrics"]}
        self.assertEqual(mapped, set(metrics.PER_LAYER))
        bench = json.loads((HERE.parent / "BENCHMARK.json").read_text())
        self.assertEqual(set(layers["workloads"]), {w["name"] for w in bench["workloads"]})


if __name__ == "__main__":
    unittest.main()
