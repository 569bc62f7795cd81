"""Unit checks for the benchmark's arithmetic and failure accounting.

    python3 perfbench/test_stats.py
"""
import datetime
import decimal
import json
import os
import statistics
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import layers  # noqa: E402
import stats  # noqa: E402


class MedianTest(unittest.TestCase):
    def test_p50_and_count(self):
        self.assertEqual(stats.p50([3, 1, 2]), (2.0, 3))
        self.assertEqual(stats.p50([4, 1, 3, 2]), (2.5, 4))
        v, n = stats.p50([])
        self.assertEqual(n, 0)
        self.assertNotEqual(v, v)  # nan

    def test_iqr_share_uses_statistics_quantiles(self):
        xs = [10, 11, 12, 13, 14, 15, 16, 17, 18, 19]
        q1, med, q3 = statistics.quantiles(xs, n=4)
        self.assertAlmostEqual(stats.iqr_share(xs), (q3 - q1) / med)


class FailedFracTest(unittest.TestCase):
    def test_fraction(self):
        self.assertEqual(stats.failed_frac(10, 0), 0.0)
        self.assertEqual(stats.failed_frac(10, 2), 0.2)

    def test_nothing_attempted_counts_as_all_failed(self):
        self.assertEqual(stats.failed_frac(0, 0), 1.0)


class SelfTimeTest(unittest.TestCase):
    def span(self, i, parent, a, b):
        return {"id": i, "parent": parent, "start_s": a, "end_s": b, "op": "o", "name": str(i)}

    def test_children_are_subtracted_once(self):
        spans = [self.span(1, -1, 0.0, 10.0),
                 self.span(2, 1, 1.0, 4.0),
                 self.span(3, 1, 3.0, 6.0),   # overlaps 2: union 1..6
                 self.span(4, 1, 8.0, 12.0),  # clipped to the parent: 8..10
                 self.span(5, 2, 1.5, 2.0)]   # grandchild: only 2's self
        st = stats.self_times(spans)
        self.assertAlmostEqual(st[1], 10.0 - 5.0 - 2.0)
        self.assertAlmostEqual(st[2], 3.0 - 0.5)
        self.assertAlmostEqual(st[3], 3.0)
        self.assertAlmostEqual(st[5], 0.5)

    def test_leaf_self_time_is_its_duration(self):
        self.assertEqual(stats.self_times([self.span(1, -1, 2.0, 2.5)]), {1: 0.5})


class DigestTest(unittest.TestCase):
    def test_value_normalisation(self):
        self.assertEqual(stats.norm_value(1.0000000001), 1)
        self.assertEqual(stats.norm_value(-0.0), 0)
        self.assertEqual(stats.norm_value(0.1234567891), 0.123456789)
        self.assertEqual(stats.norm_value(decimal.Decimal("2.50")), 2.5)
        utc = datetime.datetime(2024, 1, 1, 1, tzinfo=datetime.timezone.utc)
        self.assertEqual(stats.norm_value(utc), datetime.datetime(2024, 1, 1, 1))
        self.assertEqual(stats.norm_value([("b", 1.0), ("a", 2.0)]), (("a", 2), ("b", 1)))
        self.assertEqual(stats.norm_value({"y": 1, "x": [0.5]}), (("x", (0.5,)), ("y", 1)))

    def test_digest_ignores_row_and_column_order(self):
        a = [{"k": 1, "v": 0.5}, {"k": 2, "v": 1.5}]
        b = [{"v": 1.5, "k": 2}, {"v": 0.5, "k": 1}]
        self.assertEqual(stats.digest(["k", "v"], a), stats.digest(["v", "k"], b))

    def test_digest_sees_differences_above_the_rounding(self):
        a = [{"k": 1, "v": 0.5}]
        self.assertEqual(stats.digest(["k", "v"], a),
                         stats.digest(["k", "v"], [{"k": 1, "v": 0.5 + 1e-12}]))
        self.assertNotEqual(stats.digest(["k", "v"], a),
                            stats.digest(["k", "v"], [{"k": 1, "v": 0.5 + 1e-6}]))
        self.assertNotEqual(stats.digest(["k", "v"], a),
                            stats.digest(["k", "v"], a + a))


def fake_batch_result(errors=(None, None)):
    def part(op, q, err=None):
        return {"query": q, "op": f"{op}/{q}", "construct_s": 1.0, "plan_s": 0.1,
                "tracker_plan_s": 0.1, "exec_s": 2.0, "wall_s": 3.1, "rows_out": 1,
                "error": err}
    ops = [{"op": f"p{i}", "wall_s": 6.2 + i, "error": e,
            "parts": [part(f"p{i}", "q_scan_csv", e), part(f"p{i}", "q_cdc_apply")]}
           for i, e in enumerate(errors)]
    return {"env": {"nproc": 4}, "session_s": 5.0, "setup_s": 25.0, "peak_rss_mb": 900.0,
            "cold_pass_s": 20.0, "cold_parts": [], "ops": ops,
            "counters": {}, "spans": []}


class ReportTest(unittest.TestCase):
    rows = {"lineitem": 6000, "events": 1000}

    def report(self, res, bad, trace=False):
        orig = layers.table_rows
        layers.table_rows = lambda _: self.rows
        try:
            return layers.batch_report("tpcdi_etl", res, bad, True, trace, "unused")
        finally:
            layers.table_rows = orig

    def test_end_to_end_metrics(self):
        r = self.report(fake_batch_result(), {})
        self.assertTrue(r["correct"])
        self.assertEqual((r["attempted"], r["failed"]), (2, 0))
        m = {k: v["value"] for k, v in r["metrics"].items()}
        self.assertEqual(set(m), set(layers.END_TO_END))
        self.assertAlmostEqual(m["setup_s"], 25.0)
        self.assertAlmostEqual(m["op_p50_s"], 6.7)
        self.assertAlmostEqual(m["rows_per_s"], 2 * (6000 + 1000) / (6.2 + 7.2))

    def test_failed_op_and_output_mismatch_count(self):
        r = self.report(fake_batch_result(("boom", None)), {})
        self.assertEqual((r["attempted"], r["failed"]), (2, 1))
        self.assertFalse(r["correct"])
        r = self.report(fake_batch_result(), {"p1": ["q_cdc_apply: digest differs"]})
        self.assertEqual((r["attempted"], r["failed"]), (2, 1))
        self.assertFalse(r["correct"])
        self.assertAlmostEqual(r["metrics"]["rows_per_s"]["value"], 7000 / 6.2)

    def test_traced_run_reports_every_per_layer_metric(self):
        r = self.report(fake_batch_result(), {}, trace=True)
        self.assertEqual(list(r["metrics"]), list(layers.PER_LAYER))
        self.assertAlmostEqual(r["metrics"]["construct_s"]["value"], 2.0)
        self.assertEqual(r["metrics"]["stream.batch_jobs"]["value"], 0.0)


class OutputCheckTest(unittest.TestCase):
    def test_outputs_are_digested_and_compared(self):
        import tempfile
        import pyarrow as pa
        import pyarrow.parquet as pq
        res = fake_batch_result()
        res["oracle_sql"] = {"q_cdc_apply": "select 1"}
        with tempfile.TemporaryDirectory() as work:
            rows = [{"k": 2, "v": 0.25}, {"k": 1, "v": 1.5}]
            for op, data in (("p0", rows), ("p1", rows[:1])):
                os.makedirs(os.path.join(work, "out", op, "q_cdc_apply"))
                pq.write_table(pa.Table.from_pylist(data),
                               os.path.join(work, "out", op, "q_cdc_apply", "part.parquet"))
            want = {"queries": {"q_cdc_apply": {"digest": stats.digest(["v", "k"], rows[::-1])}}}
            bad = layers.output_problems(res, work, want)
            self.assertEqual(list(bad), ["p1"])
            self.assertIn("no expected digest", layers.output_problems(res, work, {})["p0"][0])


def fake_ingest_result(decisions, fed=((1, 2, 3), (4, 5))):
    return {"env": {"seed": 7},
            "fed": [list(b) for b in fed],
            "ingest": {"audit": [[d, dec] for d, dec in decisions.items()],
                       "published_digest": "x", "decisions": {"admitted": 3}}}


class IngestCheckTest(unittest.TestCase):
    texts = {1: "a b", 2: "c d", 3: "a b", 4: "e f", 5: "g h"}
    expected = {"doc_gates": {"2": "holdout_excluded", "5": "repetition_filter"}}

    def problems(self, decisions, expected=None):
        return layers.ingest_problems(fake_ingest_result(decisions),
                                      expected or self.expected, self.texts)

    def test_a_consistent_state_passes(self):
        ok = {1: "admitted", 2: "holdout_excluded", 3: "near_dup", 4: "admitted",
              5: "repetition_filter"}
        self.assertEqual(self.problems(ok), [])

    def test_gate_decisions_must_match_the_funnel_oracle(self):
        bad = {1: "admitted", 2: "admitted", 3: "near_dup", 4: "admitted",
               5: "repetition_filter"}
        self.assertEqual(len(self.problems(bad)), 1)
        gated = {1: "admitted", 2: "holdout_excluded", 3: "near_dup", 4: "quality_gate",
                 5: "repetition_filter"}
        self.assertEqual(len(self.problems(gated)), 1)

    def test_exact_duplicates_are_not_both_admitted(self):
        dup = {1: "admitted", 2: "holdout_excluded", 3: "admitted", 4: "admitted",
               5: "repetition_filter"}
        self.assertIn("same text", self.problems(dup)[0])

    def test_recorded_state_is_compared(self):
        ok = {1: "admitted", 2: "holdout_excluded", 3: "near_dup", 4: "admitted",
              5: "repetition_filter"}
        rec = dict(self.expected, ingest={"7:2": {"published_digest": "y",
                                                   "decisions": {"admitted": 3}}})
        self.assertIn("recorded", self.problems(ok, rec)[0])
        rec["ingest"]["7:2"]["published_digest"] = "x"
        self.assertEqual(self.problems(ok, rec), [])


class IngestReportTest(unittest.TestCase):
    def test_maintenance_batches_are_reported_apart(self):
        def batch(i, wall, maint=()):
            return {"op": f"batch-{i}", "docs": 25, "wall_s": wall, "error": None,
                    "phases": {"addBatch": wall - 0.5}, "maint": list(maint)}
        res = {"env": {"nproc": 4, "seed": 1}, "setup_s": 30.0, "session_s": 5.0,
               "cold_pass_s": 20.0, "peak_rss_mb": 900.0, "setup_batches": [],
               "counters": {}, "spans": [],
               "ingest": {"batches": [batch(1, 10.0), batch(2, 12.0),
                                      batch(3, 16.0, ("compact", "vacuum", "retrain"))],
                          "problems": [], "published": 60, "decisions": {},
                          "published_digest": "x",
                          "storage": {"docs": 100, "fed_doc_bytes_mean": 10.0,
                                      "bytes_written": 3000.0, "live_bytes": 2000.0,
                                      "files_live": 40}}}
        r = layers.ingest_report("corpus_ingest", res, [], True, True)
        m = {k: v["value"] for k, v in r["metrics"].items()}
        self.assertEqual((r["attempted"], r["failed"]), (3, 0))
        self.assertAlmostEqual(m["trace.op_p50_s"], 12.0)
        self.assertAlmostEqual(m["storage.maint_op_p50_s"], 16.0)
        self.assertAlmostEqual(m["storage.compact_batch_s"], 16.0)
        self.assertAlmostEqual(m["storage.retrain_batch_s"], 16.0)
        self.assertAlmostEqual(m["storage.batch_growth"], 12.0 / 10.0)
        self.assertAlmostEqual(m["storage.write_amp"], 3.0)
        r = layers.ingest_report("corpus_ingest", res, ["state differs"], True, False)
        self.assertEqual((r["failed"], r["correct"]), (3, False))


class BenchmarkFileTest(unittest.TestCase):
    def test_benchmark_json_matches_the_metric_catalogue(self):
        path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "BENCHMARK.json")
        with open(path) as fh:
            b = json.load(fh)
        self.assertEqual({m["name"]: (m["unit"], m["better"]) for m in b["end_to_end"]},
                         layers.END_TO_END)
        self.assertEqual({m["name"]: (m["unit"], m["better"]) for m in b["per_layer"]},
                         layers.PER_LAYER)
        self.assertTrue(all(w["name"] in layers.WORKLOADS for w in b["workloads"]))


if __name__ == "__main__":
    unittest.main()
