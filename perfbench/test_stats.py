"""Unit tests for the benchmark's pure parts.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import unittest

import stats

HERE = os.path.dirname(os.path.abspath(__file__))


def raw_run(**over):
    """A minimal raw harness result that checks out clean."""
    raw = {
        "analytics": {"passes": 2, "warm_reps": 1, "gc_ms": 10, "rows": {
            "q1_agg": {"set": "RelationalQueries", "streaming": False, "times_s": [0.2, 0.3],
                       "fingerprints": ["6:123"], "oracle": "match", "error": None},
            "q_late_drop": {"set": "WindowQueries", "streaming": True, "times_s": [1.0, 1.2],
                            "fingerprints": ["9:77"], "oracle": "none", "error": None}}},
        "serve": {"open": [["ingest", 0, 0, 100, True], ["get", 0, 10, 300, True]],
                  "closed": [["tx", 5, 5, 50, True]], "bad_reads": 0,
                  "warm_ops": 4, "warm_failed": 0,
                  "closed_ops": 1, "closed_s": 1.0, "generator": [[0, 1]], "files": 3},
        "pipeline": {"expected": 50, "lost": 0, "duplicated": 0, "lag_ms": [700, 800],
                     "batch_lag_ms": [800],
                     "append_ms": [300], "generator": [[0, 0]]},
        "warmup_s": 10.0, "setup_reps_s": [1.0, 3.0, 2.0], "drain_s": 1.0,
        "backlog": 2000,
    }
    for path, value in over.items():
        node = raw
        keys = path.split("__")
        for k in keys[:-1]:
            node = node[k]
        node[keys[-1]] = value
    return raw


class TailTest(unittest.TestCase):
    def test_ten_samples_lie_beyond_the_tail(self):
        xs = list(range(1, 101))
        value, pct, n = stats.tail(xs)
        self.assertEqual(sum(1 for x in xs if x > value), 10)
        self.assertEqual((value, pct, n), (90, 90.0, 100))

    def test_more_samples_give_a_higher_percentile(self):
        value, pct, n = stats.tail(list(range(200)))
        self.assertEqual((value, pct, n), (189, 95.0, 200))

    def test_order_of_samples_does_not_matter(self):
        xs = [(i * 37) % 120 for i in range(120)]
        self.assertEqual(stats.tail(xs), stats.tail(sorted(xs)))
        self.assertEqual(stats.tail(xs)[0], 109)

    def test_below_the_90th_percentile_the_tail_is_unresolved(self):
        # 99 samples: ten beyond sits at p89.9, and 11 samples would put it
        # at the minimum; neither is a tail
        self.assertEqual(stats.tail(list(range(99))), (None, None, 99))
        self.assertEqual(stats.tail(list(range(11))), (None, None, 11))
        self.assertEqual(stats.tail([]), (None, None, 0))


class OpenLoopTest(unittest.TestCase):
    def test_latency_counts_from_the_due_time(self):
        # due at 0 but sent at 400 behind a stall: charged 500, not 100
        done = [["get", 0, 400, 500, True], ["get", 100, 100, 150, True]]
        self.assertEqual(stats.open_loop_latency_ms(done), {"get": [500, 50]})

    def test_failed_requests_carry_no_latency(self):
        done = [["ingest", 0, 0, 5, False], ["ingest", 0, 0, 7, True]]
        self.assertEqual(stats.open_loop_latency_ms(done), {"ingest": [7]})

    def test_generator_lateness(self):
        self.assertEqual(stats.lateness_ms([(100, 100), (200, 260), (300, 290)]), [0, 60, 0])


class FailureCountTest(unittest.TestCase):
    def test_clean_run(self):
        attempted, failed, reasons = stats.failures(raw_run())
        self.assertEqual((attempted, failed, reasons), (6 + 3 + 4 + 50, 0, []))

    def test_row_error_fails_every_execution_of_the_row(self):
        raw = raw_run(analytics__rows__q1_agg__error="boom")
        self.assertEqual(stats.failures(raw)[1], 3)

    def test_unstable_output_and_oracle_mismatch_fail(self):
        raw = raw_run(analytics__rows__q1_agg__fingerprints=["6:1", "6:2"])
        self.assertEqual(stats.failures(raw)[1], 3)
        raw = raw_run(analytics__rows__q1_agg__oracle="mismatch")
        self.assertEqual(stats.failures(raw)[1], 3)

    def test_an_oracle_that_fails_to_run_fails_its_row(self):
        raw = raw_run(analytics__rows__q1_agg__oracle="error: cannot parse")
        attempted, failed, reasons = stats.failures(raw)
        self.assertEqual(failed, 3)
        self.assertIn("cannot parse", reasons[0])

    def test_unacknowledged_requests_and_stale_reads_fail(self):
        raw = raw_run(serve__closed=[["tx", 5, 5, 50, False]], serve__bad_reads=1)
        self.assertEqual(stats.failures(raw)[1], 2)

    def test_failed_warm_up_requests_fail(self):
        attempted, failed, reasons = stats.failures(raw_run(serve__warm_failed=2))
        self.assertEqual(failed, 2)
        self.assertIn("warm-up", reasons[0])

    def test_lost_and_duplicated_elements_fail(self):
        raw = raw_run(pipeline__lost=2, pipeline__duplicated=1)
        self.assertEqual(stats.failures(raw)[1], 3)

    def test_streaming_rows_must_report_batches(self):
        raw = raw_run()
        raw["trace"] = {"batches": [{"owner": "q_late_drop"}, {"owner": "pipeline"}]}
        self.assertEqual(stats.streaming_rows_without_batches(raw), [])
        raw["trace"]["batches"] = [{"owner": "q1_agg"}]
        self.assertEqual(stats.streaming_rows_without_batches(raw), ["q_late_drop"])


class EndToEndTest(unittest.TestCase):
    def test_medians_and_set_up(self):
        m, detail = stats.end_to_end(raw_run(), 2048 * 1024)
        self.assertAlmostEqual(m["query_total_s"][0], 0.25 + 1.1)
        self.assertEqual(m["setup_s"][0], 12.0)
        self.assertEqual(m["rss_peak_mb"], (2048.0, "MB"))
        self.assertEqual(detail["get_tail_ms"], {"value": None, "percentile": None, "n": 1})


class MetricNamesTest(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
            self.bench = json.load(f)
        with open(os.path.join(HERE, "config.json")) as f:
            self.conf = json.load(f)

    def test_every_workload_has_its_key_skew(self):
        self.assertEqual({w["name"] for w in self.bench["workloads"]},
                         set(self.conf["workloads"]))

    def test_charset(self):
        self.assertTrue(stats.valid_name("queries.TextQueries_s"))
        self.assertTrue(stats.valid_name("spark.jobs_per_op.get"))
        self.assertFalse(stats.valid_name("_x"))
        self.assertFalse(stats.valid_name("a b"))
        self.assertFalse(stats.valid_name("x" * 65))
        self.assertTrue(stats.valid_unit("1/s"))
        self.assertFalse(stats.valid_unit("ops per s"))

    def test_benchmark_names_and_units_are_valid_and_unique(self):
        metrics = self.bench["end_to_end"] + self.bench["per_layer"]
        names = [m["name"] for m in metrics] + [w["name"] for w in self.bench["workloads"]]
        self.assertEqual(len(names), len(set(names)))
        for m in metrics:
            self.assertTrue(stats.valid_name(m["name"]), m)
            self.assertTrue(stats.valid_unit(m["unit"]), m)
            self.assertIn(m["better"], ("lower", "higher"))
        for m in self.bench["end_to_end"]:
            self.assertLessEqual(m["bound"], 0.25)

    def test_computed_units_match_the_declared_ones(self):
        raw = raw_run()
        m, _ = stats.end_to_end(raw, 1024)
        for d in self.bench["end_to_end"]:
            self.assertEqual(m[d["name"]][1], d["unit"], d["name"])

    def test_traced_run_gives_every_declared_layer_metric_in_its_unit(self):
        job = {"jobs": 2, "stages": 3, "tasks": 8, "task_ms": 40.0, "shuffle_read": 10,
               "shuffle_write": 10, "input": 100, "job_union_ms": 30, "wall_ms": 50}
        raw = raw_run()
        for d in self.bench["per_layer"]:  # one row per declared QuerySet
            if d["name"].startswith("queries."):
                qs = d["name"][len("queries."):-len("_s")]
                raw["analytics"]["rows"].setdefault("q_" + qs, {
                    "set": qs, "streaming": False, "times_s": [0.5],
                    "fingerprints": ["1:1"], "oracle": "none", "error": None})
        raw["counters"] = {"graft.elements.appended": 3}
        raw["trace"] = {
            "cores": 4, "pipeline_jobs": 6, "appends": [job],
            "rows": [dict(job, row="q1_agg"), dict(job, row="q_late_drop")],
            "ops": [dict(job, op=op) for op in stats.OPS],
            "batches": [{"owner": "q_late_drop", "steady": False, "rows": 9,
                         "durations": {"addBatch": 500}, "state_rows": 4,
                         "state_commit_ms": 7},
                        {"owner": "pipeline", "steady": True, "rows": 100,
                         "durations": {"addBatch": 600}, "state_rows": 0,
                         "state_commit_ms": 0}]}
        m = stats.per_layer(raw)
        for d in self.bench["per_layer"]:
            self.assertEqual(m[d["name"]][1], d["unit"], d["name"])
        self.assertAlmostEqual(m["spark.driver_gap_s"][0], 0.04 / 2)  # per pass
        self.assertAlmostEqual(m["streaming.batches"][0], 1 / 3)  # per execution
        self.assertEqual(m["pipeline.drain_eps"][0], 2000.0)

    def test_every_layer_metric_names_the_end_to_end_metric_it_moves(self):
        e2e = {m["name"] for m in self.bench["end_to_end"]}
        for m in self.bench["per_layer"]:
            moves = self.conf["moves"].get(m["name"])
            self.assertTrue(moves, m["name"])
            self.assertTrue(set(moves) <= e2e, (m["name"], moves))


if __name__ == "__main__":
    unittest.main()
