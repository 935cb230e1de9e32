"""Tests of the benchmark's own rules (no JVM needed):

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import json
import os
import unittest

import metrics

HERE = os.path.dirname(os.path.abspath(__file__))


def span(id, parent, layer, start, end, qid="q", **attrs):
    """A span with times given in milliseconds."""
    return {"id": id, "parent": parent, "qid": qid, "layer": layer, "name": layer,
            "start_us": start * 1000, "end_us": end * 1000, "attrs": attrs}


class TailPercentileTest(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        self.assertIsNone(metrics.tail(list(range(39))))
        t = metrics.tail(list(range(40)))
        self.assertEqual((t["p"], t["n"]), (75, 40))

    def test_highest_supported_percentile(self):
        self.assertEqual(metrics.tail(list(range(99)))["p"], 75)
        self.assertEqual(metrics.tail(list(range(100)))["p"], 90)
        self.assertEqual(metrics.tail(list(range(1000)))["p"], 99)

    def test_value_and_count(self):
        t = metrics.tail([float(i) for i in range(101)])
        self.assertEqual(t, {"p": 90, "value": 90.0, "n": 101})

    def test_quantile_interpolates(self):
        self.assertEqual(metrics.quantile([1, 2, 3, 4], 50), 2.5)
        self.assertEqual(metrics.quantile([5], 90), 5)


class SelfTimeTest(unittest.TestCase):
    def tree(self):
        # pass 0-100; query 0-90 with construct 0-10, plan 12-20, exec 20-90.
        # Two jobs arrive without a parent: one inside construct (an eager
        # materialization), one inside exec with two overlapping stages.
        return [
            span(1, -1, "pass", 0, 100, qid=None),
            span(2, 1, "query", 0, 90),
            span(3, 2, "construct", 0, 10),
            span(4, 2, "plan", 12, 20),
            span(5, 2, "exec", 20, 90),
            span(6, -1, "job", 2, 8),
            span(7, -1, "job", 30, 80),
            span(8, 7, "stage", 30, 50),
            span(9, 7, "stage", 40, 60),
            span(10, -1, "job", 30, 40, qid="other"),
        ]

    def test_nest_by_containment(self):
        spans = self.tree()
        metrics.nest(spans)
        parents = {s["id"]: s["parent"] for s in spans}
        self.assertEqual(parents[6], 3)
        self.assertEqual(parents[7], 5)
        self.assertEqual(parents[10], -1)  # another query's job is not adopted

    def test_self_time_per_layer(self):
        st = metrics.self_times(self.tree())
        self.assertAlmostEqual(st["pass"], 0.010)
        self.assertAlmostEqual(st["query"], 0.002)      # 10-12 ms gap
        self.assertAlmostEqual(st["construct"], 0.004)  # 10 - job 6
        self.assertAlmostEqual(st["plan"], 0.008)
        self.assertAlmostEqual(st["exec"], 0.020)       # 70 - job 7
        self.assertAlmostEqual(st["job"], 0.006 + 0.020 + 0.010)  # 7 minus stage union 30
        self.assertAlmostEqual(st["stage"], 0.040)

    def test_microbatch_adopted_before_its_jobs(self):
        spans = [
            span(1, -1, "pass", 0, 100, qid=None),
            span(2, 1, "query", 0, 100),
            span(3, 2, "construct", 0, 100),
            span(4, -1, "microbatch", 10, 40, qid=None),
            span(5, -1, "job", 15, 25),
        ]
        st = metrics.self_times(spans)
        self.assertEqual(spans[3]["parent"], 3)
        self.assertEqual(spans[3]["qid"], "q")
        self.assertEqual(spans[4]["parent"], 4)
        self.assertAlmostEqual(st["microbatch"], 0.020)
        self.assertAlmostEqual(st["construct"], 0.070)


class TraceOverheadTest(unittest.TestCase):
    def passes(self, sums):
        # the harness's order: two untraced passes, then traced and untraced alternate
        return [{"pass": i, "traced": i >= 2 and i % 2 == 0, "sum_s": x} for i, x in enumerate(sums)]

    def test_steady_drift_is_not_overhead(self):
        self.assertAlmostEqual(metrics.trace_overhead(self.passes([1.0, 1.1, 1.2, 1.3, 1.4])), 0.0)

    def test_median_over_traced_passes(self):
        sums = [9.0, 1.0, 1.1, 1.0, 1.5, 1.0, 1.2, 1.0]  # the first pass is never compared
        self.assertAlmostEqual(metrics.trace_overhead(self.passes(sums)), 0.2)


class ReportedMetricsTest(unittest.TestCase):
    def raw(self):
        execs = [{"pass": p, "query": q, "construct_s": 0.1, "write_s": 0.2 + p,
                  "total_s": 0.3 + p, "traced": p == 1}
                 for p in (0, 1, 2) for q in ("a", "kinesis_drain")]
        return {"env": {"cores": 4}, "setup_s": 2.0,
                "passes": [{"pass": 0, "traced": False, "sum_s": 2.0},
                           {"pass": 1, "traced": True, "sum_s": 2.6},
                           {"pass": 2, "traced": False, "sum_s": 3.0}],
                "execs": execs, "heap_live_mb": 80.0, "scratch_retained_mb": 1.5}

    def spans(self):
        return [
            span(1, -1, "pass", 0, 600, qid=None),
            span(2, 1, "query", 0, 300, compiles=3, compile_ns=10**8, exchanges=2,
                 temp_views=1, cached_frames=0, scratch_written_bytes=0),
            span(3, 2, "construct", 0, 100),
            span(4, 2, "plan", 100, 120),
            span(5, 2, "exec", 120, 300),
            span(6, -1, "job", 130, 290),
            span(7, 6, "stage", 130, 290, tasks=4, run_ms=400, cpu_ns=3 * 10**8, gc_ms=5,
                 shuffle_read_bytes=0, shuffle_write_bytes=1048576, spill_bytes=0,
                 input_bytes=2097152, input_rows=1000),
            span(8, 1, "query", 300, 600, qid="d"),
            span(9, 8, "construct", 300, 590, qid="d"),
            span(10, 8, "exec", 590, 600, qid="d"),
            span(11, -1, "microbatch", 310, 410, qid=None, stream="kinesis_drain", run_id="r",
                 triggerExecution=100, addBatch=60, latestOffset=2, input_rows=99),
        ]

    def bench(self):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
            return json.load(f)

    def test_every_end_to_end_metric_printed_with_unit(self):
        bench = self.bench()
        line = metrics.result_line(bench, 0, metrics.end_to_end(self.raw()), 5, 0)
        self.assertEqual(list(line["metrics"]), [m["name"] for m in bench["end_to_end"]])
        for m in bench["end_to_end"]:
            self.assertEqual(line["metrics"][m["name"]]["unit"], m["unit"])
        self.assertEqual(line["metrics"]["setup_s"]["value"], 2.0)
        self.assertEqual(line["metrics"]["pass_s"]["value"], 2.5)
        self.assertAlmostEqual(line["metrics"]["query_geomean_s"]["value"], (0.3 * 2.3) ** 0.5)
        self.assertTrue(line["correct"])

    def test_every_per_layer_metric_printed_with_unit(self):
        bench = self.bench()
        values = metrics.per_layer(self.raw(), self.spans(), "kinesis_drain", 98)
        line = metrics.result_line(bench, 1, values, 5, 1)
        self.assertEqual(list(line["metrics"]), [m["name"] for m in bench["per_layer"]])
        for m in bench["per_layer"]:
            self.assertEqual(line["metrics"][m["name"]]["unit"], m["unit"])
        self.assertFalse(line["correct"])
        v = {k: x["value"] for k, x in line["metrics"].items()}
        self.assertAlmostEqual(v["plans.planning_s"], 0.02)
        self.assertAlmostEqual(v["exec.core_util"], 0.4 / (0.16 * 4))
        self.assertAlmostEqual(v["source.dead_letter_frac"], 1 - 98 / 99)
        self.assertAlmostEqual(v["source.events_per_s"], 99 / 1.3)
        self.assertAlmostEqual(v["streaming.outside_trigger_ms"], 190.0)
        self.assertAlmostEqual(v["trace.overhead_frac"], 2.6 / 2.5 - 1)

    def test_missing_metric_is_an_error(self):
        values = metrics.end_to_end(self.raw())
        del values["pass_s"]
        with self.assertRaises(KeyError):
            metrics.result_line(self.bench(), 0, values, 1, 0)


if __name__ == "__main__":
    unittest.main()
