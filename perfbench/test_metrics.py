#!/usr/bin/env python3
"""Tests of the benchmark's own arithmetic.

    python3 perfbench/test_metrics.py
"""
import json
import os
import re
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import metrics  # noqa: E402
import selection  # noqa: E402

MEDIANS_AND_SLOWEST = [
    "x10_snapshot_diff", "x9_release_manifest", "d15_dup_pagerank",
    "d2b_near_dup_pairs_prefix", "e12_transition_matrix", "e4_range_join",
    "g1_secure_view_agg", "g2_secure_view_masked_rows", "m9_decode_png",
    "m8_decode_jpeg", "pipe_shred_fast", "pipe_shred_roundtrip",
    "h10_returned_items", "w3_ntile_quartiles", "b6_passage_topk",
    "b10_maxsim_served", "sp4_source_quota", "sp18_greedy_doc_packing",
    "n20_ivfpq_topk", "n26_ivfpq_large_nlist", "t35_bpe_token_ids",
    "t15_lm_score", "v2_shred_agg", "p3_variant_get"]


def span(i, parent, name, t0, t1, phase="run", **counters):
    return {"id": i, "parent": parent, "name": name, "phase": phase,
            "t0_ms": t0, "t1_ms": t1, "gc_ms": 0, "counters": counters}


class TailRule(unittest.TestCase):
    def test_picks_highest_percentile_with_ten_beyond(self):
        xs = list(range(1, 31))  # 30 samples, shuffled order must not matter
        value, pct, n = metrics.tail(reversed(xs))
        self.assertEqual(value, 20)
        self.assertEqual(sum(1 for x in xs if x > value), 10)
        self.assertAlmostEqual(pct, 100 * 20 / 30)
        self.assertEqual(n, 30)

    def test_smallest_sample_count_above_the_median(self):
        value, pct, _ = metrics.tail(range(21))
        self.assertEqual(value, 10)
        self.assertGreater(pct, 50)

    def test_twenty_or_fewer_samples_fall_back_to_max(self):
        self.assertEqual(metrics.tail(range(20)), (19, 100.0, 20))
        self.assertEqual(metrics.tail([3.0, 1.0, 2.0]), (3.0, 100.0, 3))
        self.assertEqual(metrics.tail([]), (0.0, 0.0, 0))


class FailedFraction(unittest.TestCase):
    def test_fraction(self):
        self.assertEqual(metrics.failed_frac(40, 0), 0.0)
        self.assertEqual(metrics.failed_frac(40, 10), 0.25)
        self.assertEqual(metrics.failed_frac(0, 0), 1.0)

    def test_outcome_counts_ops_checks_and_oracle_rejections(self):
        rec = {"ops": [
            {"kind": "entry", "detail": "a", "ok": True},
            {"kind": "entry", "detail": "b", "ok": True},
            {"kind": "entry", "detail": "a", "ok": True},
            {"kind": "entry", "detail": "c", "ok": False}],
            "checks": [{"name": "x", "ok": True}, {"name": "y", "ok": False}]}
        self.assertEqual(metrics.outcome(rec), (6, 2))
        # the oracle rejected entry a: both of its timed runs fail
        self.assertEqual(metrics.outcome(rec, {"a": "column differs"}), (6, 4))


class SelfTime(unittest.TestCase):
    def test_span_minus_direct_children(self):
        spans = [span(0, -1, "bench.pulse", 0, 100),
                 span(1, 0, "pipe.trigger", 10, 70),
                 span(2, 0, "serve.report.ACCT_PUB", 70, 95),
                 span(3, 2, "inner", 80, 90)]
        own = metrics.self_times(spans)
        self.assertAlmostEqual(own[0], 15)   # 100 - 60 - 25
        self.assertAlmostEqual(own[1], 60)
        self.assertAlmostEqual(own[2], 15)   # 25 - 10: only direct children
        self.assertAlmostEqual(own[3], 10)


class Selection(unittest.TestCase):
    def setUp(self):
        path = os.path.join(ROOT, "BENCH_LOCAL.json")
        if not os.path.exists(path):
            self.skipTest("no BENCH_LOCAL.json in this checkout")
        self.picked = metrics.select_entries(selection.bench_times(path),
                                             selection.packs_from_sources())

    def test_rule_gives_the_24_entries(self):
        self.assertEqual(len(self.picked), 12)
        got = [e for med, slow in self.picked.values() for e in (med, slow)]
        self.assertEqual(sorted(got), sorted(MEDIANS_AND_SLOWEST))

    def test_query_mix_runs_the_pack_medians(self):
        with open(os.path.join(HERE, "src/main/scala/perfbench/MixWorkload.scala")) as f:
            src = f.read()
        listed = re.findall(r'"(\w+)"', src[src.index("val Entries"):])
        self.assertEqual(sorted(listed), sorted(m for m, _ in self.picked.values()))

    def test_even_count_takes_the_lower_median(self):
        picked = metrics.select_entries({"a": 3.0, "b": 1.0, "c": 2.0, "d": 4.0},
                                        {"P": ["a", "b", "c", "d"]})
        self.assertEqual(picked, {"P": ("c", "d")})


class OracleReport(unittest.TestCase):
    def test_rejections(self):
        report = "\n".join([
            "a                                OK   rows=3",
            "b                                FAIL ROWS 2 vs 3",
            "c                                NO-ORACLE rows=0",
            "d                                NO-ORACLE rows=10",
            "other                            FAIL ROWS 1 vs 2",
            "Traceback: boom"])
        bad = metrics.oracle_rejections(report, ["a", "b", "c", "d", "e"])
        self.assertEqual(bad, {"b": "FAIL ROWS 2 vs 3", "c": "NO-ORACLE rows=0",
                               "e": "not checked: Traceback: boom"})


class Records(unittest.TestCase):
    def pipeline_record(self):
        spans = [
            span(0, -1, "bench.backfill", 0, 3000),
            span(1, 0, "pipe.trigger", 10, 2990, tasks=50, output_bytes=4e5, files_written=12),
            span(2, -1, "bench.pulse", 3000, 5500),
            span(3, 2, "pipe.trigger", 3001, 5000, jobs=18, tasks=30),
            span(4, 2, "serve.report.ACCT_PUB", 5050, 5500, tasks=10, files_read=20),
            span(5, -1, "pipe.ops_read", 5500, 5600, pending_files=0)]
        return {"workload": "backfill_trickle", "setup_s": [15.0],
                "ops": [{"kind": "backfill", "ms": 3000.0, "ok": True},
                        {"kind": "pulse", "ms": 2500.0, "ok": True},
                        {"kind": "pulse", "ms": 2700.0, "ok": True}],
                "checks": [], "spans": spans,
                "backfill_rows": 12000, "backfill_s": 10.0,
                "stored_bytes": 250, "landed_bytes": 1000,
                "producer": {"s": 3.5, "files": 150, "bytes": 10},
                "ops_tables": {"task_rows_before": {"push_trips": 100},
                               "task_rows_after": {"push_trips": 160, "purge_files": 9},
                               "files_loaded": 10, "pending_files": 0},
                "serving_burst": [{"traced": True, "ms": 110.0}, {"traced": False, "ms": 100.0}],
                "jvm": {"gc_s": 0.5, "peak_heap_mb": 700.0}}

    def test_end_to_end(self):
        m, extra = metrics.end_to_end(self.pipeline_record())
        self.assertEqual(set(m), set(metrics.END_TO_END))
        self.assertEqual(m["op_p50_ms"], 2600.0)
        self.assertEqual(m["op_tail_ms"], 2700.0)
        self.assertEqual(m["throughput_per_s"], 1200.0)
        self.assertEqual(m["stored_bytes_ratio"], 0.25)
        self.assertEqual(extra["tail_n"], 2)

    def test_per_layer(self):
        m = metrics.per_layer(self.pipeline_record())
        self.assertEqual(set(m), set(metrics.per_layer_units()))
        self.assertAlmostEqual(m["pipe.trigger_s"], 1.999)
        self.assertEqual(m["pipe.jobs_per_trigger"], 18)
        self.assertEqual(m["pipe.backfill.tasks_per_trigger"], 50)
        self.assertEqual(m["pipe.rows.push_trips"], 60)
        self.assertAlmostEqual(m["stage.purged_ratio"], 0.9)
        self.assertEqual(m["serve.report_ms.ACCT_PUB"], 450)
        self.assertEqual(m["serve.report_ms.ACCT_JCHA"], 0.0)  # not exercised
        self.assertAlmostEqual(m["trace.overhead_pct"], 10.0)
        self.assertAlmostEqual(m["bench.op_self_ms"], (20 + 51) / 2)
        self.assertEqual(m["spark.tasks"], 90)

    def test_overhead_brackets_the_untraced_pass(self):
        rec = {"pass_s": [12.0, 10.0, 10.0]}   # traced, untraced, traced
        self.assertAlmostEqual(metrics.overhead_pct(rec), 10.0)


class BenchmarkJson(unittest.TestCase):
    def test_metric_lists_match_the_arithmetic(self):
        path = os.path.join(ROOT, "BENCHMARK.json")
        if not os.path.exists(path):
            self.skipTest("no BENCHMARK.json")
        with open(path) as f:
            b = json.load(f)
        self.assertEqual({m["name"]: m["unit"] for m in b["end_to_end"]}, metrics.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in b["per_layer"]},
                         metrics.per_layer_units())


if __name__ == "__main__":
    unittest.main()
