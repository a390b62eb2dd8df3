"""Tests of the benchmark's own helpers. Run: python3 lakebench/test_metrics.py"""

import json
import math
import os
import unittest

import metrics

HERE = os.path.dirname(os.path.abspath(__file__))


def op(kind, ms, cycle=2, ok=True, traced=False, **kw):
    return dict(kind=kind, ms=ms, cycle=cycle, ok=ok, traced=traced, **kw)


def raw_run(ops):
    return {"ops": ops, "session_s": 2.0, "setup_reps_s": [5.0, 1.0, 3.0],
            "prefix": {"write_amp": 2.5, "space_amp": 1.5}, "peak_rss_mb": 3700.0,
            "heap_committed_mb": 3072.0, "peak_heap_mb": 400.0}


def bench():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        return json.load(fh)


# One measured cycle of each workload: kind, latency (ms) and count, at
# about the proportions of a run on a 4-core box.
CYCLES = {
    "cdc_merge": [("merge.api", 1300.0, 1), ("merge.sql", 1600.0, 1), ("query.fresh", 80.0, 2),
                  ("query.lookup", 75.0, 4), ("query.agg", 350.0, 1)],
    "lake_serve": [("merge.dv", 5500.0, 1), ("merge.dim", 400.0, 2), ("query.fresh", 230.0, 1),
                   ("query.lookup", 170.0, 4), ("query.range", 220.0, 1),
                   ("query.partition", 260.0, 1), ("query.agg", 750.0, 1),
                   ("query.join", 900.0, 1), ("query.travel", 200.0, 1), ("query.feed", 190.0, 1)],
}


def workload_ops(workload, slow_kind=None, factor=2.0):
    ops = []
    for cycle in range(2, 5):
        for kind, ms, n in CYCLES[workload]:
            for _ in range(n):
                ops.append(op(kind, ms * (factor if kind == slow_kind else 1.0), cycle=cycle,
                              events=1000 if kind in metrics.LANDED_MERGES else None))
    return ops


class TailRule(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        self.assertIsNone(metrics.tail(list(range(19))))
        p, v, n = metrics.tail(list(range(1, 21)))
        self.assertEqual((p, v, n), (50.0, 10, 20))

    def test_highest_supported_percentile(self):
        self.assertEqual(metrics.tail(list(range(1, 101)))[:2], (90.0, 90))
        self.assertEqual(metrics.tail(list(range(1, 1001)))[:2], (99.0, 990))
        self.assertEqual(metrics.tail(list(range(1, 10001)))[:2], (99.9, 9990))

    def test_absent_not_faked_in_report(self):
        t = metrics.tails(raw_run([op("merge.api", 1000.0) for _ in range(5)]))
        self.assertIsNone(t["merge_tail_s"])
        self.assertIsNone(t["query_tail_ms"])


class Failures(unittest.TestCase):
    def test_error_rate(self):
        self.assertEqual(metrics.error_rate(40, 2), 0.05)
        self.assertEqual(metrics.error_rate(1, 0), 0.0)
        with self.assertRaises(ValueError):
            metrics.error_rate(0, 0)

    def test_failed_op_misses_every_latency(self):
        ops = [op("query.lookup", 10.0), op("query.lookup", 20.0, ok=False)]
        self.assertEqual(metrics.latencies(ops, lambda o: True), [10.0, math.inf])

    def test_failures_only_make_latency_worse(self):
        base = [op("merge.api", 100.0, events=10), op("merge.sql", 100.0, events=10),
                op("query.fresh", 10.0), op("query.agg", 50.0),
                op("query.lookup", 12.0), op("query.lookup", 14.0)]
        ok = metrics.end_to_end(raw_run(base))
        failing = base + [op("query.lookup", 1.0, ok=False), op("query.lookup", 1.0, ok=False)]
        bad = metrics.end_to_end(raw_run(failing))
        self.assertGreater(bad["query_p50_ms"], ok["query_p50_ms"])
        self.assertGreater(bad["lookup_p50_ms"], ok["lookup_p50_ms"])
        self.assertEqual(bad["queries_per_s"], 0.0)

    def test_steal_contaminated_dropped_while_most_stay(self):
        ops = [op("query.lookup", 100.0, steal_ms=0.0), op("query.lookup", 110.0, steal_ms=10.0),
               op("query.lookup", 300.0, steal_ms=80.0)]
        self.assertEqual(metrics.latencies(ops, lambda o: True, cpus=4), [100.0, 110.0])
        busy = [op("query.lookup", 300.0, steal_ms=90.0), op("query.lookup", 310.0, steal_ms=90.0),
                op("query.lookup", 100.0)]
        self.assertEqual(metrics.latencies(busy, lambda o: True, cpus=4), [300.0, 310.0, 100.0])

    def test_warm_up_cycle_excluded(self):
        ops = [op("query.lookup", 9999.0, cycle=1), op("query.lookup", 10.0)]
        self.assertEqual(metrics.latencies(ops, lambda o: True), [10.0])


class EndToEnd(unittest.TestCase):
    def test_definitions(self):
        ops = [op("merge.api", 2000.0, events=100), op("merge.sql", 8000.0, events=100),
               op("query.fresh", 5.0), op("query.lookup", 20.0), op("query.agg", 80.0)]
        m = metrics.end_to_end(raw_run(ops))
        self.assertAlmostEqual(m["setup_s"], 2.0 + 3.0)
        self.assertAlmostEqual(m["merge_api_p50_s"], 2.0)
        self.assertAlmostEqual(m["merge_sql_p50_s"], 8.0)
        self.assertAlmostEqual(m["cdc_events_per_s"], 20.0)
        self.assertAlmostEqual(m["lookup_p50_ms"], 20.0)
        self.assertAlmostEqual(m["scan_p50_s"], 0.08)
        self.assertAlmostEqual(m["query_p50_ms"], 20.0)  # geomean of 5, 20 and 80
        self.assertAlmostEqual(m["queries_per_s"], 3 / 0.105)
        self.assertAlmostEqual(m["peak_mem_mb"], 400.0 + 3700.0 - 3072.0)
        self.assertEqual(set(m), set(metrics.END_TO_END))

    def test_dim_merge_is_sql_path_not_landed_events(self):
        ops = [op("merge.dv", 5000.0, events=1000), op("merge.dim", 300.0),
               op("query.lookup", 20.0), op("query.agg", 80.0)]
        m = metrics.end_to_end(raw_run(ops))
        self.assertAlmostEqual(m["merge_api_p50_s"], 5.0)
        self.assertAlmostEqual(m["merge_sql_p50_s"], 0.3)
        self.assertAlmostEqual(m["cdc_events_per_s"], 200.0)


class Sensitivity(unittest.TestCase):
    """Doubling the latency of one operation kind must push some bounded
    metric past its bound, for every kind that has a metric of its own
    or shares one with at most two others. The analytic read classes of
    `lake_serve` reach only `query_p50_ms`, a geometric mean over its
    eight read classes, and `queries_per_s`: a slowdown confined to one
    of them is printed per kind but not caught by a bound."""

    NOT_CAUGHT = {("lake_serve", k) for k in ("query.fresh", "query.range", "query.partition",
                                              "query.join", "query.travel", "query.feed")}

    def trips(self, workload, kind):
        bounds = {m["name"]: (m["bound"], m["better"]) for m in bench()["end_to_end"]}
        base = metrics.end_to_end(raw_run(workload_ops(workload)))
        slow = metrics.end_to_end(raw_run(workload_ops(workload, kind)))
        worse = {n: (slow[n] - base[n] if better == "lower" else base[n] - slow[n]) / base[n]
                 for n, (_, better) in bounds.items()}
        return [n for n, (bound, _) in bounds.items() if worse[n] > bound]

    def test_single_kind_slowdown(self):
        for w, cycle in CYCLES.items():
            for kind, _, _ in cycle:
                with self.subTest(workload=w, kind=kind):
                    if (w, kind) in self.NOT_CAUGHT:
                        self.assertEqual(self.trips(w, kind), [])
                    else:
                        self.assertTrue(self.trips(w, kind))


class Names(unittest.TestCase):
    def test_metric_names(self):
        for n in list(metrics.END_TO_END) + list(metrics.PER_LAYER):
            self.assertRegex(n, r"^[A-Za-z0-9][A-Za-z0-9_.-]*$")
        with self.assertRaises(ValueError):
            metrics.check_names(["ok_name", "bad name"])
        with self.assertRaises(ValueError):
            metrics.check_names(["planning.ms/lookup"])

    def test_benchmark_json_matches(self):
        b = bench()
        self.assertEqual({m["name"]: m["unit"] for m in b["end_to_end"]}, metrics.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in b["per_layer"]}, metrics.PER_LAYER)
        metrics.check_names([m["name"] for m in b["end_to_end"] + b["per_layer"]]
                            + [w["name"] for w in b["workloads"]])


class Spans(unittest.TestCase):
    def test_job_times_from_spans(self):
        spans = [dict(id=0, parent=-1, op=7, name="query.agg", start=0.0, end=100.0),
                 dict(id=1, parent=0, op=7, name="spark.job", start=10.0, end=30.0),
                 dict(id=2, parent=0, op=7, name="spark.job", start=20.0, end=50.0),
                 dict(id=3, parent=0, op=7, name="planning", start=0.0, end=10.0),
                 dict(id=4, parent=-1, op=7, name="manifest.fold_cold", start=100.0, end=120.0),
                 dict(id=5, parent=-1, op=8, name="query.agg", start=200.0, end=210.0)]
        jt = metrics.job_times(spans, op("query.agg", 100.0, op=7))
        self.assertEqual(jt, {"jobs": 2, "job_ms": 40.0, "driver_gap_ms": 60.0})
        self.assertEqual(metrics.job_times(spans, op("query.agg", 10.0, op=8))["jobs"], 0)

    def test_self_time(self):
        spans = [dict(id=0, parent=-1, op=0, name="merge.api", start=0.0, end=100.0),
                 dict(id=1, parent=0, op=0, name="spark.job", start=10.0, end=30.0),
                 dict(id=2, parent=0, op=0, name="spark.job", start=20.0, end=50.0),
                 dict(id=3, parent=0, op=0, name="planning", start=90.0, end=120.0)]
        st = metrics.self_times(spans)
        self.assertAlmostEqual(st["merge.api"]["self_ms"], 100.0 - 40.0 - 10.0)
        self.assertEqual(st["spark.job"]["count"], 2)
        self.assertAlmostEqual(st["spark.job"]["self_ms"], 50.0)

    def test_overhead(self):
        ops = [op("query.lookup", 110.0, traced=True), op("query.lookup", 100.0),
               op("query.lookup", 500.0, cycle=1)]
        self.assertAlmostEqual(metrics.overhead_pct(ops), 10.0)


if __name__ == "__main__":
    unittest.main()
