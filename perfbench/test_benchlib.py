"""Tests of the benchmark's own helpers.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import copy
import json
import statistics
import unittest

import benchlib


class PercentileTest(unittest.TestCase):
    def test_interpolates_between_closest_ranks(self):
        self.assertEqual(benchlib.percentile([4, 1, 3, 2], 50), 2.5)
        self.assertEqual(benchlib.percentile([1, 2, 3, 4, 5], 80), 4.2)
        self.assertEqual(benchlib.percentile([7], 99), 7)

    def test_ends_are_min_and_max(self):
        xs = [3.0, 9.0, 1.0, 5.0]
        self.assertEqual(benchlib.percentile(xs, 0), 1.0)
        self.assertEqual(benchlib.percentile(xs, 100), 9.0)

    def test_median_agrees_with_statistics(self):
        xs = [0.3, 1.7, 0.9, 2.2, 1.1, 0.4]
        self.assertAlmostEqual(benchlib.percentile(xs, 50), statistics.median(xs))

    def test_no_values_is_an_error(self):
        with self.assertRaises(ValueError):
            benchlib.percentile([], 50)

    def test_spread_is_iqr_over_median(self):
        xs = [10.0, 10.0, 10.0, 10.0]
        self.assertEqual(benchlib.spread(xs), 0.0)
        q1, q2, q3 = statistics.quantiles([1, 2, 3, 4, 5], n=4)
        self.assertAlmostEqual(benchlib.spread([5, 4, 3, 2, 1]), (q3 - q1) / q2)


class TableHashTest(unittest.TestCase):
    def test_matches_the_compare_rule(self):
        # value computed with dev/compare.py's table_hash on the same input
        rows = [(1.5, "x"), (None, "y"), (2.0, b"\x01")]
        self.assertEqual(
            benchlib.table_hash(["b", "a"], rows),
            "fc5e5386cbad656cb35a99c08bf77b299fd64d3a1c451e4384c83cfa987f313f")

    def test_column_order_does_not_matter_row_order_does(self):
        a = benchlib.table_hash(["x", "y"], [(1, "p"), (2, "q")])
        self.assertEqual(a, benchlib.table_hash(["y", "x"], [("p", 1), ("q", 2)]))
        self.assertNotEqual(a, benchlib.table_hash(["x", "y"], [(2, "q"), (1, "p")]))

    def test_cells_are_normalised(self):
        self.assertEqual(benchlib.norm_cell(None), "NULL")
        self.assertEqual(benchlib.norm_cell(0.1), "0.1")
        self.assertEqual(benchlib.norm_cell(1e-05), "1e-05")
        self.assertEqual(benchlib.norm_cell(b"\xff\x00"), "ff00")
        self.assertEqual(benchlib.norm_cell(True), "True")

    def test_empty_table_is_the_empty_digest(self):
        self.assertEqual(
            benchlib.table_hash(["a"], []),
            "e3b0c44298fc1c149afbf4c8996fb92427ae41e4649b934ca495991b7852b855")


class TelemetryTest(unittest.TestCase):
    BENCH_TELEMETRY = ('{"approx_convs":383750,"cosine_candidate_pairs":268444,'
                       '"decontam_candidate_rows":19848,"error_spans":440545}')

    def test_parses_text_and_dicts(self):
        want = {"similarity.cosine_candidates": 268444.0, "corpus.decontam_candidates": 19848.0}
        self.assertEqual(benchlib.parse_telemetry(self.BENCH_TELEMETRY), want)
        self.assertEqual(benchlib.parse_telemetry(json.loads(self.BENCH_TELEMETRY)), want)

    def test_missing_counters_read_zero(self):
        self.assertEqual(set(benchlib.parse_telemetry("{}").values()), {0.0})


def pipeline_report():
    sinks = {"sink_errors": 150, "sink_slow": 665, "sink_normal": 10, "metrics": 3000,
             "manifest_rows": 825, "written_routed_rows": 825, "written_distinct_turns": 825,
             "written_sink_errors": 150, "written_sink_slow": 665, "written_sink_normal": 10}
    observed = {"turns_enriched": 1000, "error_spans": 200, "slow_spans": 400, "approx_convs": 180}
    job = {"wall_s": 3.0, "observed": dict(observed), "sinks": sinks}
    return {"input_turns": 1000, "input_approx_convs": 180, "jobs": [job, copy.deepcopy(job)]}


class PipelineChecksTest(unittest.TestCase):
    def failed(self, report, oracle=None, expected=None):
        return [name for name, bad in benchlib.pipeline_failures(report, oracle or pipeline_oracle(), expected)
                if bad]

    def test_consistent_report_passes(self):
        self.assertEqual(self.failed(pipeline_report()), [])

    def test_lost_turns_fail(self):
        r = pipeline_report()
        r["jobs"][1]["observed"]["turns_enriched"] = 999
        self.assertEqual(self.failed(r), ["job1"])

    def test_counters_must_match_the_oracle(self):
        r = pipeline_report()
        r["jobs"][1]["observed"]["error_spans"] = 201
        self.assertEqual(self.failed(r), ["job1"])
        oracle = pipeline_oracle()
        oracle["observed"]["slow_spans"] = 399
        self.assertEqual(self.failed(pipeline_report(), oracle), ["job0", "job1"])

    def test_conversation_estimate_must_match_the_inputs(self):
        r = pipeline_report()
        r["jobs"][1]["observed"]["approx_convs"] = 179
        self.assertEqual(self.failed(r), ["job1"])

    def test_sink_counts_must_match_the_oracle(self):
        oracle = pipeline_oracle()
        oracle["sinks"]["sink_errors"] = 149
        self.assertEqual(self.failed(pipeline_report(), oracle), ["job0", "job1"])

    def test_overlapping_sinks_fail(self):
        r = pipeline_report()
        r["jobs"][0]["sinks"]["written_distinct_turns"] = 824
        self.assertEqual(self.failed(r), ["job0"])

    def test_sinks_must_sum_to_routed_rows(self):
        r = pipeline_report()
        for job in r["jobs"]:
            job["sinks"]["sink_normal"] = 11
        self.assertIn("job0", self.failed(r))

    def test_recorded_counters_are_checked(self):
        r = pipeline_report()
        expected = {"observed": dict(r["jobs"][0]["observed"], approx_convs=181),
                    "sinks": {k: r["jobs"][0]["sinks"][k] for k in benchlib.SINKS}}
        self.assertEqual(self.failed(r, expected=expected), ["job0", "job1"])

    def test_thrown_job_fails(self):
        r = pipeline_report()
        r["jobs"].append({"error": "boom"})
        self.assertEqual(self.failed(r), ["job2"])

    def test_traced_job_checks_the_generator(self):
        r = pipeline_report()
        r["traced"] = copy.deepcopy(r["jobs"][0])
        r["generator_check"] = {"ours": [10, "5"], "engine": [10, "5"]}
        self.assertEqual(self.failed(r), [])
        r["generator_check"]["ours"] = [10, "6"]
        self.assertEqual(self.failed(r), ["traced"])


def pipeline_oracle():
    return {"observed": {"turns_enriched": 1000, "error_spans": 200, "slow_spans": 400},
            "sinks": {"sink_errors": 150, "sink_slow": 665, "sink_normal": 10}}


class QueryChecksTest(unittest.TestCase):
    def report(self):
        return {"passes": [[{"name": "q1", "wall_s": 1.0, "rows": 3},
                            {"name": "q2", "wall_s": 1.0, "rows": 5}]],
                "digests": {"q1": [3, "123"]}}

    def failed(self, report, expected):
        return [name for name, bad in benchlib.query_failures(report, expected) if bad]

    def test_matching_rows_and_digest_pass(self):
        self.assertEqual(self.failed(self.report(), {"q1": [3, "123"], "q2": [5, "9"]}), [])

    def test_row_count_is_checked_without_a_digest(self):
        self.assertEqual(self.failed(self.report(), {"q1": [3, "123"], "q2": [6, "9"]}), ["q2#0"])

    def test_digest_mismatch_fails(self):
        self.assertEqual(self.failed(self.report(), {"q1": [3, "124"], "q2": [5, "9"]}), ["q1#0"])

    def test_errors_fail(self):
        r = self.report()
        r["passes"][0][1] = {"name": "q2", "error": "boom"}
        r["digests"]["q1"] = {"error": "boom"}
        self.assertEqual(self.failed(r, None), ["q1#0", "q2#0"])


if __name__ == "__main__":
    unittest.main()
