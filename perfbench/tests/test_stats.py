"""Tests of the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench/tests
"""
import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
import run  # noqa: E402
import stats  # noqa: E402


class PercentileChoice(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond_it(self):
        self.assertEqual(stats.tail_percentile(100), 90.0)
        self.assertEqual(stats.tail_percentile(1000), 99.0)
        self.assertEqual(stats.tail_percentile(10000), 99.9)
        self.assertEqual(stats.tail_percentile(20), 50.0)

    def test_one_sample_short_falls_back_a_rung(self):
        self.assertEqual(stats.tail_percentile(99), 50.0)
        self.assertEqual(stats.tail_percentile(999), 90.0)
        self.assertIsNone(stats.tail_percentile(19))

    def test_quantile_interpolates(self):
        self.assertEqual(stats.quantile([4, 1, 3, 2], 0.5), 2.5)
        self.assertEqual(stats.quantile([5], 0.9), 5)
        self.assertAlmostEqual(stats.quantile(list(range(11)), 0.9), 9.0)


class SelfTime(unittest.TestCase):
    def test_overlapping_children_are_subtracted_once(self):
        # children cover 10..50 (they overlap on 20..30) and 90..100 of the
        # parent (the last one sticks out past its end)
        self.assertEqual(stats.self_time(0, 100, [(10, 30), (20, 50), (90, 120)]), 50)

    def test_nested_and_disjoint(self):
        self.assertEqual(stats.self_time(0, 100, [(10, 60), (20, 30)]), 50)
        self.assertEqual(stats.self_time(0, 100, []), 100)
        self.assertEqual(stats.self_time(0, 100, [(200, 300)]), 100)

    def test_union_length(self):
        self.assertEqual(stats.union_length([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(stats.union_length([(3, 3)]), 0)


class ErrorRate(unittest.TestCase):
    def test_ratio_and_empty_run(self):
        self.assertEqual(stats.error_rate(200, 3), 0.015)
        self.assertEqual(stats.error_rate(10, 0), 0.0)
        self.assertEqual(stats.error_rate(0, 0), 1.0)

    def test_counting_from_a_run_record(self):
        def op(kind, phase, ok):
            return {"kind": kind, "phase": phase, "ok": ok, "startNs": 0, "endNs": 1}
        res = {"ops": [op("write", "timed", True), op("write", "timed", False),
                       op("read", "timed", True), op("write", "setup", False)],
               "counters": {"service.sync_events": 6, "service.events_failed": 2}}
        # set-up ops do not count; failed sync events count as failed ops
        self.assertEqual(run.attempted_failed(res), (9, 3))


class Attribution(unittest.TestCase):
    ops = [{"id": 1, "kind": "write", "startNs": 0, "endNs": 100},
           {"id": 2, "kind": "sync", "startNs": 50, "endNs": 200}]

    def job(self, op, start, frames=()):
        return {"jobId": start, "op": op, "startNs": start, "frames": list(frames)}

    def test_carried_op_id_wins_while_that_op_is_open(self):
        self.assertEqual(stats.attribute_jobs([self.job(1, 60)], self.ops), {60: 1})

    def test_stale_or_missing_id_falls_back_to_call_site_then_overlap(self):
        methods = {"sync": "processPendingEvents"}
        got = stats.attribute_jobs(
            [self.job(1, 150),
             self.job(-1, 70, ["graft.service.GeoReplicationService.processPendingEvents(X.scala:1)"]),
             self.job(-1, 70 + 1),
             self.job(-1, 500)], self.ops, methods)
        self.assertEqual(got, {150: 2, 70: 2, 71: 1, 500: None})

    def test_module_from_call_site_else_innermost_span(self):
        self.assertEqual(stats.module_of(["graft.perfbench.X.y(X.scala:1)",
                                          "graft.sources.StorageOps.listing(S.scala:9)"]), "sources")
        self.assertEqual(stats.module_of(["graft.functions.F.g(F.scala:1)"]), "other")
        spans = [(0, 100, "pipeline"), (10, 20, "catalog")]
        self.assertEqual(stats.module_of([], 15, spans), "catalog")
        self.assertEqual(stats.module_of([], 50, spans), "pipeline")
        self.assertEqual(stats.module_of([], 500, spans), "other")


class Contract(unittest.TestCase):
    def test_metric_names_match_benchmark_json(self):
        import json
        spec = json.loads((Path(__file__).resolve().parents[2] / "BENCHMARK.json").read_text())
        self.assertEqual([m["name"] for m in spec["per_layer"]], list(run.PER_LAYER))
        res = {"workload": "geo_replication", "session_s": 1.0, "setup_s": [2.0, 1.0, 3.0],
               "timed_s": 10.0, "ops_done": 2, "cpu_ms": 100.0, "heap_mb": 50.0,
               "counters": {"disk_bytes": 10.0, "user_bytes": 5.0},
               "samples": {"replica_lag_ms": [5.0]},
               "ops": [{"kind": k, "phase": "timed", "ok": True, "startNs": s, "endNs": s + 10**9}
                       for k, s in (("write", 0), ("write", 10**9), ("read", 0))]}
        e2e = run.end_to_end(res)
        self.assertEqual(list(e2e), [m["name"] for m in spec["end_to_end"]])
        self.assertEqual({k: u for k, (_, u) in e2e.items()},
                         {m["name"]: m["unit"] for m in spec["end_to_end"]})
        # set-up is the session start plus the median repetition
        self.assertEqual(e2e["setup_s"][0], 3.0)
        self.assertEqual(e2e["throughput"][0], 1.0)
        # CPU rate over the timed phase, per op at the measured op rate
        self.assertEqual(e2e["cpu_ms_per_op"][0], 10.0)

    def test_tracing_overhead_only_against_matching_untraced_runs(self):
        key = {"digest": "d1", "seed": 3, "seconds": 12.0}
        runs = [{**key, "throughput": 2.0}, {**key, "throughput": 4.0},
                {**key, "seed": 4, "throughput": 100.0},
                {**key, "digest": "d0", "throughput": 100.0},
                {**key, "seconds": 30.0, "throughput": 100.0}]
        overhead, n = run.tracing_overhead(runs, key, 2.4)
        self.assertAlmostEqual(overhead, 0.2)
        self.assertEqual(n, 2)
        self.assertEqual(run.tracing_overhead(runs[2:], key, 2.4), (None, 0))


if __name__ == "__main__":
    unittest.main()
