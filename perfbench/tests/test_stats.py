"""Tests of the benchmark's own code: python3 -m unittest discover perfbench/tests"""
import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
import layerdiff  # noqa: E402
import plan  # noqa: E402
import stats  # noqa: E402


def span(i, parent, start, end, name="x", counters=None):
    return {"id": i, "parent": parent, "op": "o", "name": name, "start_ns": start,
            "end_ns": end, "attrs": {}, "counters": counters or {}}


def op(lat, ok=True, kind="read", traced=False):
    return {"run": 0, "name": "n", "kind": kind, "traced": traced, "lat_s": lat, "ok": ok,
            "err": ""}


class PercentileRule(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        self.assertIsNone(stats.tail_percentile(19))
        self.assertEqual(stats.tail_percentile(20), 50.0)
        self.assertEqual(stats.tail_percentile(39), 50.0)
        self.assertEqual(stats.tail_percentile(40), 75.0)
        self.assertEqual(stats.tail_percentile(99), 75.0)
        self.assertEqual(stats.tail_percentile(100), 90.0)
        self.assertEqual(stats.tail_percentile(175), 90.0)
        self.assertEqual(stats.tail_percentile(200), 95.0)
        self.assertEqual(stats.tail_percentile(1000), 99.0)
        self.assertEqual(stats.tail_percentile(10000), 99.9)

    def test_nearest_rank(self):
        vals = list(range(1, 101))
        self.assertEqual(stats.nearest_rank(vals, 50), 50)
        self.assertEqual(stats.nearest_rank(vals, 90), 90)
        self.assertEqual(stats.nearest_rank(list(reversed(vals)), 99.9), 100)
        self.assertEqual(stats.nearest_rank([3.0], 90), 3.0)

    def test_tails_state_their_sample_count(self):
        res = {"workload": "catalog", "extra": {},
               "ops": [op(float(i)) for i in range(1, 176)]}
        t = stats.tails(res)
        self.assertEqual(t["op_tail_s"], {"value": 158.0, "percentile": 90.0, "n": 175})
        self.assertEqual(t["op_p50_s"]["n"], 175)


class SelfTime(unittest.TestCase):
    def test_nested_children(self):
        spans = [span(0, -1, 0, 100), span(1, 0, 10, 40), span(2, 1, 20, 30)]
        st = stats.self_times(spans)
        self.assertEqual(st, {0: 70, 1: 20, 2: 10})

    def test_overlapping_children_count_once(self):
        spans = [span(0, -1, 0, 100), span(1, 0, 10, 50), span(2, 0, 30, 70),
                 span(3, 0, 80, 90)]
        self.assertEqual(stats.self_times(spans)[0], 100 - 60 - 10)

    def test_children_are_clipped_to_the_parent(self):
        spans = [span(0, -1, 10, 20), span(1, 0, 0, 15), span(2, 0, 18, 40)]
        self.assertEqual(stats.self_times(spans)[0], 3)

    def test_no_children(self):
        self.assertEqual(stats.self_times([span(0, -1, 5, 9)]), {0: 4})


class LayerTotals(unittest.TestCase):
    def test_benchmark_spans_add_no_engine_work(self):
        spark = {"spark.jobs": 2, "spark.input_bytes": stats.MB}
        spans = [span(0, -1, 0, 100, "run", {"txlog.commits": 3}),
                 span(1, 0, 0, 40, "txlog.merge", dict(spark)),
                 span(2, 0, 40, 60, "bench.untimed", dict(spark)),
                 span(3, 2, 45, 55, "txlog.snapshot", dict(spark)),
                 span(4, 0, 60, 90, "txlog.scan", dict(spark))]
        res = {"cpus": 4, "spans": spans,
               "runs": [{"idx": 0, "traced": True, "run_s": 80e-9, "heap_mb": 1.0}]}
        self.assertEqual([s["id"] for s in stats.layer_spans(spans, 0)], [1, 4])
        m = {k: v for k, (v, _) in stats.per_layer(res).items()}
        self.assertEqual(m["spark.jobs"], 4)
        self.assertEqual(m["spark.input_mb"], 2.0)
        self.assertEqual(m["txlog.commits"], 3)
        self.assertAlmostEqual(m["trace.coverage"], 70 / 80)


class FailedOps(unittest.TestCase):
    def test_a_failed_op_adds_no_latency_sample_and_counts_failed(self):
        ops = [op(1.0), op(0.001, ok=False), op(3.0), op(2.0)]
        self.assertEqual(stats.latencies(ops), [1.0, 3.0, 2.0])
        self.assertEqual(stats.failed_count(ops), 1)

    def test_end_to_end_median_ignores_failed_ops(self):
        res = {"jvm_to_main_s": 1.0, "session_s": [5.0, 2.0, 3.0], "warmup_s": 4.0,
               "runs": [{"idx": 0, "traced": False, "run_s": 10.0, "heap_mb": 100.0}],
               "ops": [op(1.0), op(0.0, ok=False), op(0.0, ok=False), op(5.0)]}
        m = stats.end_to_end(res)
        self.assertEqual(m["op_p50_s"], (3.0, "s"))
        self.assertEqual(m["setup_s"], (8.0, "s"))
        self.assertEqual(stats.tails(dict(res, workload="curate", extra={}))["failed_ratio"],
                         {"value": 0.5, "n": 4})


class TxlogPlan(unittest.TestCase):
    def test_same_seed_same_sequence(self):
        self.assertEqual(plan.txlog_plan(7), plan.txlog_plan(7))
        self.assertEqual(plan.plan_text(plan.txlog_plan(7)), plan.plan_text(plan.txlog_plan(7)))
        self.assertNotEqual(plan.txlog_plan(7), plan.txlog_plan(8))

    def test_run_shape(self):
        for steps in plan.txlog_plan(3, runs=20):
            self.assertEqual(steps[0], "load")
            self.assertEqual(steps[-1], "vacuum")
            verbs = [s.split()[0] for s in steps]
            mixed = verbs[1:-1]
            self.assertEqual(sum(v in plan.WRITE_VERBS for v in mixed),
                             sum(v not in plan.WRITE_VERBS for v in mixed))
            self.assertTrue(all(v in plan.WRITE_VERBS for v in mixed[::2]))


class LayerDiff(unittest.TestCase):
    def test_rows_carry_base_delta_and_ratio(self):
        base = {"layers": {"txlog.merge": {"calls": 2, "self_s": 4.0, "counters": {"c": 10}}},
                "metrics": {"txlog.merge_ms": {"value": 2000.0, "unit": "ms"}}}
        change = {"layers": {"txlog.merge": {"calls": 2, "self_s": 3.0, "counters": {"c": 5}},
                             "txlog.scan": {"calls": 1, "self_s": 1.0, "counters": {}}},
                  "metrics": {"txlog.merge_ms": {"value": 1500.0, "unit": "ms"}}}
        rows = {(r[0], r[1]): r[2:] for r in layerdiff.rows(base, change)}
        self.assertEqual(rows[("txlog.merge", "self_s")], (4.0, 3.0, -1.0, 0.75))
        self.assertEqual(rows[("txlog.merge", "c")], (10, 5, -5, 0.5))
        self.assertEqual(rows[("txlog.scan", "self_s")], (0.0, 1.0, 1.0, None))
        self.assertEqual(rows[("metric", "txlog.merge_ms")], (2000.0, 1500.0, -500.0, 0.75))


if __name__ == "__main__":
    unittest.main()
