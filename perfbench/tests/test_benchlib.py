"""Tests of the benchmark's own logic (no JVM, no Spark).

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import re
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
import benchlib  # noqa: E402

BENCH = benchlib.load_json("../BENCHMARK.json")
SPEC = benchlib.load_json("workloads.json")


def members(workload):
    return [m[0] for m in SPEC["workloads"][workload]["members"]]


# the module of each run-set query, as the program reports it
RUN_SET_MODULES = {
    "q136_dup_span_rewrite": "TextAnalysis", "q150_incremental_postings": "TextRetrieval",
    "q167_winsorized_stats": "CorpusHealth", "q114_graph_mass_rank": "Analytics",
    "q13_merge_upsert": "Snapshots", "q04_topk_orders": "Relational",
    "q16_calendar": "TimeSeries", "q144_video_motion": "Multimodal",
    "q44_salted_agg": "Scale", "q181_hll_maintenance": "Sketches",
    "q223_quarantine": "Quality", "q254_stratified_sample": "TextScoring",
    "q112_leakage_free_split": "Dedup", "q49_neardup_components": "Dedup",
    "q79_kmeans_step": "Similarity", "q105_bpe_train": "Bpe",
    "q127_bloom_pruned_scan": "StatsStore",
}


def reported(queries, excluded, **moved):
    """The catalog record the program prints; every query outside the run
    sets is given to Relational, and ``moved`` overrides modules."""
    modules = {q: RUN_SET_MODULES.get(q, "Relational") for q in queries}
    modules.update(moved)
    return {"queries": queries, "excluded": excluded, "modules": sorted(modules.items())}


def catalog_records(run_set, passes=2):
    ops = [(0, n) for n in run_set] + [(p, n) for p in range(1, passes + 1) for n in run_set]
    return {
        "catalog": [{"queries": [], "excluded": []}],
        "setup": [{"session_s": 4.0, "build_s": 2.5, "builds": ["q87_ivf_serve"],
                   "warmup_s": 6.0}],
        "run": [{"wall_s": 10.0, "set_size": len(run_set), "done": len(ops) - len(run_set),
                 "storage_peak_mb": 40.0}],
        "op": [{"i": i, "pass": p, "name": n, "module": "Relational", "construct_s": 0.2,
                "plan_s": 0.01, "exec_s": 0.5, "total_s": 0.71 + 0.1 * p, "rows": 1,
                "hash": "7", "error": "", "pinned": 1, "persistent_rdds": 2,
                "exchanges": 3, "broadcasts": 1} for i, (p, n) in enumerate(ops)],
        "layer": [{"op": str(i), "layer": layer, "jobs": 2, "stages": 3, "tasks": 8,
                   "task_ms": 900, "gc_ms": 10, "shuffle_write": 2**20,
                   "shuffle_read": 2**20, "input": 2**21, "output": 0, "skew": 1.5,
                   "skew_weight_ms": 400}
                  for i in range(len(ops)) for layer in ("construct", "exec")],
    }


def pipeline_records():
    tickers = benchlib.load_json("expected/tickers.json")
    return {
        "catalog": [{"queries": [], "excluded": []}],
        "setup": [{"session_s": 4.0, "full_run_s": 10.5, "rc": 0,
                   "download_historical_s": 1.5}],
        "run": [{"wall_s": 12.0, "planned": 20, "done": 10, "storage_peak_mb": 30.0}],
        "op": [{"i": i, "name": f"day_{100 + i}", "module": "pipeline",
                "total_s": 1.0 + 0.1 * i, "rc": 0, "error": "", "daily_update_s": 0.9,
                "sync_s": 0.1 if i % 5 == 4 else 0.0,
                "update_info_s": 0.1 if i % 5 == 4 else 0.0} for i in range(10)],
        "pipeline_check": [{"landed_rows": 120, "landed_ids": 100, "landed_hash": "5",
                            "stored_rows": 100, "stored_hash": "5", "stored_distinct": 100,
                            "tickers": tickers, "store_files": 40, "store_bytes": 900,
                            "landing_bytes": 1000}],
        "layer": [{"op": "3", "layer": "daily_update", "jobs": 5, "stages": 6, "tasks": 9,
                   "task_ms": 800, "gc_ms": 5, "shuffle_write": 0, "shuffle_read": 0,
                   "input": 4096, "output": 2048, "skew": 1.2, "skew_weight_ms": 100}],
    }


class PercentileRule(unittest.TestCase):
    def test_linear_interpolation_between_ranks(self):
        xs = list(range(1, 11))
        self.assertEqual(benchlib.percentile(xs, 50), 5.5)
        self.assertAlmostEqual(benchlib.percentile(xs, 90), 9.1)
        self.assertEqual(benchlib.percentile(xs, 0), 1)
        self.assertEqual(benchlib.percentile(xs, 100), 10)
        self.assertEqual(benchlib.percentile([3.0], 90), 3.0)

    def test_order_does_not_matter(self):
        self.assertEqual(benchlib.percentile([5, 1, 4, 2, 3], 50), 3)

    def test_samples_beyond(self):
        # p90 needs 100 samples to have ten beyond it
        self.assertEqual(benchlib.samples_beyond(100, 90), 10)
        self.assertEqual(benchlib.samples_beyond(10, 90), 1)


class PartitionGuard(unittest.TestCase):
    def catalog(self):
        excluded = ["q101_admission_loop", "q86_lsh_narrow_salted"]
        return members("catalog_exec") + members("catalog_build") + excluded, excluded

    def test_committed_partition_is_exact(self):
        queries, excluded = self.catalog()
        self.assertEqual(benchlib.partition_offenders(
            queries, excluded, members("catalog_exec"), members("catalog_build")), {})

    def test_renamed_query_is_named(self):
        queries, excluded = self.catalog()
        renamed = [q if q != "q65_canonical_dedup" else "q65_canonical_dedup_v2"
                   for q in queries]
        got = benchlib.partition_offenders(
            renamed, excluded, members("catalog_exec"), members("catalog_build"))
        self.assertEqual(got, {"missing from both workloads": ["q65_canonical_dedup_v2"],
                               "not a bench query": ["q65_canonical_dedup"]})

    def test_overlap_and_excluded_members_are_named(self):
        got = benchlib.partition_offenders(["a", "b", "x"], ["x"], ["a", "b", "x"], ["b"])
        self.assertEqual(got, {"not a bench query": ["x"], "in both workloads": ["b"]})

    def test_run_set_outside_members_is_named(self):
        queries, excluded = self.catalog()
        spec = json.loads(json.dumps(SPEC))
        spec["workloads"]["catalog_build"]["run_set"].append("q36_ngram_jaccard")
        got = benchlib.catalog_guard(reported(queries, excluded), spec)
        self.assertEqual(got, {"catalog_build run_set outside its members":
                               ["q36_ngram_jaccard"]})
        self.assertEqual(benchlib.catalog_guard(reported(queries, excluded), SPEC), {})

    def test_every_module_is_measured_by_a_run_set(self):
        queries, excluded = self.catalog()
        spec = json.loads(json.dumps(SPEC))
        spec["workloads"]["catalog_build"]["run_set"].remove("q127_bloom_pruned_scan")
        got = benchlib.catalog_guard(reported(queries, excluded), spec)
        self.assertEqual(got, {"modules no run set measures": ["StatsStore"]})

    def test_module_without_a_metric_is_named(self):
        queries, excluded = self.catalog()
        got = benchlib.catalog_guard(
            reported(queries, excluded, q09_distinct="Joins"), SPEC)
        self.assertEqual(got, {"modules without a metric": ["Joins"]})

    def test_workload_sizes(self):
        self.assertEqual(len(members("catalog_exec")), 212)
        self.assertEqual(len(members("catalog_build")), 32)


class OpSelection(unittest.TestCase):
    def test_plan_is_seeded_passes_over_the_run_set(self):
        run_set = SPEC["workloads"]["catalog_exec"]["run_set"]
        a = benchlib.catalog_plan(run_set, 7, 3)
        self.assertEqual(a, benchlib.catalog_plan(run_set, 7, 3))
        self.assertNotEqual(a, benchlib.catalog_plan(run_set, 8, 3))
        for p in range(4):
            self.assertEqual(sorted(q for pp, q in a if pp == p), sorted(run_set))
        self.assertEqual([p for p, _ in a], sorted(p for p, _ in a))


class DeclaredMetrics(unittest.TestCase):
    def assertPrintsDeclared(self, rec, trace):
        values = benchlib.metrics(rec, trace, 4, [6.0, 6.5], [10.0, 11.0])
        units = benchlib.declared(BENCH, trace)
        printed = {k: {"value": v, "unit": units.get(k, "?")} for k, v in values.items()}
        self.assertEqual(benchlib.undeclared(printed, BENCH, trace), [])

    def test_catalog_run_prints_exactly_the_declared_metrics(self):
        for trace in (0, 1):
            self.assertPrintsDeclared(catalog_records(["q02_revenue_by_nation", "q04_topk_orders"]),
                                      trace)
            self.assertPrintsDeclared(catalog_records(["q02_revenue_by_nation"], passes=1), trace)

    def test_pipeline_run_prints_exactly_the_declared_metrics(self):
        for trace in (0, 1):
            self.assertPrintsDeclared(pipeline_records(), trace)

    def test_undeclared_and_wrong_unit_are_reported(self):
        printed = {"setup_s": {"value": 1.0, "unit": "ms"}, "extra": {"value": 1, "unit": "s"}}
        problems = benchlib.undeclared(printed, BENCH, 0)
        self.assertIn("extra is not declared", problems)
        self.assertIn("setup_s unit ms != declared s", problems)
        self.assertIn("wall_s is declared but not printed", problems)

    def test_wall_time_extrapolates_a_capped_pipeline_run(self):
        e2e = benchlib.end_to_end(pipeline_records())
        self.assertAlmostEqual(e2e["wall_s"], 24.0)
        self.assertAlmostEqual(e2e["setup_s"], 4.0 + 10.5)

    def test_catalog_wall_is_one_pass_of_mean_latencies(self):
        e2e = benchlib.end_to_end(catalog_records(["a", "b", "c"]))
        self.assertAlmostEqual(e2e["wall_s"], 3 * 0.86)
        self.assertAlmostEqual(e2e["setup_s"], 4.0 + 2.5 + 6.0)
        # the set-up pass (0.71 s ops) is not timed: passes 1 and 2 are
        self.assertAlmostEqual(e2e["op_p50_s"], 0.86)

    def test_a_cut_pass_is_left_out(self):
        rec = catalog_records(["a", "b", "c"])
        rec["op"] = rec["op"][:-1]
        e2e = benchlib.end_to_end(rec)
        self.assertAlmostEqual(e2e["wall_s"], 3 * 0.81)
        self.assertAlmostEqual(e2e["op_p90_s"], 0.81)

    def test_layer_split_is_per_pass_of_timed_ops(self):
        m = benchlib.metrics(catalog_records(["a", "b", "c"]), 1, 4, [6.0], [1.58])
        self.assertAlmostEqual(m["construct.s"], 0.6)
        self.assertAlmostEqual(m["exec.s"], 1.5)
        self.assertAlmostEqual(m["construct.jobs"], 6)
        self.assertAlmostEqual(m["plan.exchanges"], 9)
        self.assertAlmostEqual(m["exec.busy_ratio"], 3 * 0.9 / (1.5 * 4))
        self.assertAlmostEqual(m["trace.overhead_s"], 1.0)
        self.assertAlmostEqual(m["module.Relational.s"], 3 * 0.86)


class OutputChecks(unittest.TestCase):
    def test_catalog_op_mismatches(self):
        expected = {"q": {"rows": 3, "hash": "9", "check": "hash"},
                    "r": {"rows": 3, "hash": "9", "check": "rows"}}
        op = {"name": "q", "rows": 3, "hash": "9", "error": ""}
        self.assertEqual(benchlib.check_catalog_op(op, expected), "")
        self.assertIn("hash", benchlib.check_catalog_op(dict(op, hash="8"), expected))
        self.assertIn("rows", benchlib.check_catalog_op(dict(op, rows=2), expected))
        self.assertEqual(benchlib.check_catalog_op(dict(op, name="r", hash="8"), expected), "")
        self.assertIn("no expected", benchlib.check_catalog_op(dict(op, name="s"), expected))

    def test_pipeline_duplicates_and_lost_rows_fail(self):
        tickers = benchlib.load_json("expected/tickers.json")
        rec = pipeline_records()
        self.assertEqual(benchlib.check_pipeline(rec, tickers), [])
        rec["pipeline_check"][0]["stored_rows"] = 101
        self.assertTrue(benchlib.check_pipeline(rec, tickers))
        rec = pipeline_records()
        rec["pipeline_check"][0]["stored_hash"] = "6"
        self.assertTrue(benchlib.check_pipeline(rec, tickers))
        rec = pipeline_records()
        rec["pipeline_check"][0]["tickers"] = tickers[1:]
        self.assertTrue(benchlib.check_pipeline(rec, tickers))


class BenchmarkFile(unittest.TestCase):
    NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
    UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")

    def test_shape(self):
        self.assertEqual(set(BENCH), {"command", "paths", "run_seconds", "workloads",
                                      "end_to_end", "per_layer"})
        self.assertEqual([w["name"] for w in BENCH["workloads"]], list(SPEC["workloads"]))
        names = [m["name"] for g in ("end_to_end", "per_layer") for m in BENCH[g]]
        names += [w["name"] for w in BENCH["workloads"]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, self.NAME)
        for m in BENCH["end_to_end"]:
            self.assertEqual(set(m), {"name", "unit", "better", "bound"})
            self.assertLessEqual(m["bound"], 0.25)
            self.assertRegex(m["unit"], self.UNIT)
        for m in BENCH["per_layer"]:
            self.assertEqual(set(m), {"name", "unit", "better"})
            self.assertRegex(m["unit"], self.UNIT)
        setup = [m for m in BENCH["end_to_end"] if m["name"] == "setup_s"]
        self.assertEqual(setup[0]["unit"], "s")
        self.assertEqual(setup[0]["bound"], max(m["bound"] for m in BENCH["end_to_end"]))
        self.assertLessEqual(len(json.dumps(BENCH)), 64 * 1024)


if __name__ == "__main__":
    unittest.main()
