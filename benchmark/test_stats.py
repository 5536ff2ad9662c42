"""Tests of the benchmark's own arithmetic.

    python3 -m unittest discover -s benchmark -p 'test_*.py'
"""
import json
import os
import tempfile
import unittest

import run
import stats

HERE = os.path.dirname(os.path.abspath(__file__))


def span(i, parent, start, end, layer="text", name="x", op=0):
    return {"id": i, "parent": parent, "layer": layer, "name": name,
            "start_ns": start, "end_ns": end, "op": op}


class SummaryTest(unittest.TestCase):
    def test_median_odd_even(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)
        with self.assertRaises(ValueError):
            stats.median([])

    def test_percentile_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 50), 50)
        self.assertEqual(stats.percentile(xs, 90), 90)
        self.assertEqual(stats.percentile(xs, 100), 100)
        self.assertEqual(stats.percentile([7], 99), 7)

    def test_tail_percentile_needs_ten_samples_beyond(self):
        self.assertIsNone(stats.tail_percentile(99))
        self.assertEqual(stats.tail_percentile(100), 90)
        self.assertEqual(stats.tail_percentile(999), 90)
        self.assertEqual(stats.tail_percentile(1000), 99)

    def test_tail_reported_only_with_ten_samples_beyond(self):
        e2e = stats.end_to_end(record([op(i, ms=float(i)) for i in range(1, 100)]))[0]
        self.assertEqual(e2e["op_p50_ms"], (50.0, 99))
        self.assertNotIn("op_p90_ms", e2e)
        e2e = stats.end_to_end(record([op(i, ms=float(i)) for i in range(1, 201)]))[0]
        self.assertEqual(e2e["op_p90_ms"], (180.0, 200))

    def test_fail_ratio(self):
        self.assertEqual(stats.fail_ratio(8, 0), 0.0)
        self.assertEqual(stats.fail_ratio(8, 2), 0.25)
        with self.assertRaises(ValueError):
            stats.fail_ratio(0, 0)


class SelfTimeTest(unittest.TestCase):
    def test_self_time_subtracts_children(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 10, 30), span(3, 1, 50, 60),
                 span(4, 2, 12, 20)]
        st = stats.self_times(spans)
        self.assertEqual(st[1], 100 - 20 - 10)
        self.assertEqual(st[2], 20 - 8)
        self.assertEqual(st[3], 10)
        self.assertEqual(st[4], 8)

    def test_overlapping_children_count_once(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 10, 50), span(3, 1, 40, 70)]
        self.assertEqual(stats.self_times(spans)[1], 100 - 60)

    def test_child_outside_parent_is_clipped(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 90, 130)]
        self.assertEqual(stats.self_times(spans)[1], 90)


class CallSiteTest(unittest.TestCase):
    def test_frame_module(self):
        self.assertEqual(
            stats.frame_module("graft.sources.PrefixSum$.withPrefixSumTotal(PrefixSum.scala:62)"),
            ("sources", "PrefixSum.scala"))
        self.assertEqual(
            stats.frame_module("graft.queries.Relational$.$anonfun$queries$5(Relational.scala:300)"),
            ("queries", "Relational.scala"))
        self.assertEqual(stats.frame_module("graft.SparkEntry$.queries(SparkEntry.scala:17)"),
                         ("graft", "SparkEntry.scala"))
        self.assertEqual(stats.frame_module("graftbench.Main$.writeNoop(Main.scala:150)"),
                         ("bench", "Main.scala"))
        self.assertEqual(stats.frame_module("java.lang.Thread.run(Thread.java:840)"),
                         (None, None))

    def test_site_modules_innermost_first(self):
        site = "\n".join([
            "graft.sources.PrefixSum$.withPrefixSumTotal(PrefixSum.scala:62)",
            "graft.text.TextOps$.packSequences(TextOps.scala:900)",
            "graft.text.Curation$.curatePublished(Curation.scala:386)",
            "graftbench.CurateCorpus.op(Workloads.scala:140)"])
        mods, file, bench = stats.site_modules(site)
        self.assertEqual(mods, ["sources", "text"])
        self.assertEqual(file, "PrefixSum.scala")
        self.assertTrue(bench)
        self.assertEqual(stats.site_modules(""), ([], None, False))

    def test_job_without_engine_frame_takes_its_span_layer(self):
        span_layer = {7: "exec"}
        self.assertEqual(stats.job_layers({"ctx": 0, "span": 7, "site": ""}, span_layer), ["exec"])
        self.assertEqual(stats.job_layers({"ctx": 0, "span": 0, "site": ""}, span_layer), [])
        site = "graft.dedup.Dedup$.exact(Dedup.scala:1)\ngraftbench.X.op(W.scala:1)"
        self.assertEqual(stats.job_layers({"ctx": 0, "span": 7, "site": site}, span_layer),
                         ["dedup"])


def record(ops, checks=(), workload="curate_corpus"):
    return {"workload": workload, "setup_s": [3.0, 1.0, 2.0], "peak_rss_kb": 2048,
            "ops": ops, "checks": list(checks), "extra": {}, "repeatable": {}}


def op(i, ok=True, ms=100.0, traced=False):
    return {"i": i, "kind": "pass", "traced": traced, "ok": ok,
            "fields": {"total_ms": ms, "docs": 50.0}}


class EndToEndTest(unittest.TestCase):
    def test_failed_ops_and_checks_count_against_attempts(self):
        rec = record([op(1), op(2, ok=False), op(3)],
                     [{"name": "c", "ok": False, "detail": ""}])
        e2e, specific, attempted, failed = stats.end_to_end(rec)
        self.assertEqual((attempted, failed), (4, 2))
        self.assertEqual(specific["fail_ratio"][0], 0.5)
        # failed operations give no latency sample
        self.assertEqual(e2e["op_p50_ms"], (100.0, 2))
        self.assertEqual(e2e["setup_s"], (2.0, 3))
        self.assertEqual(e2e["peak_rss_mb"][0], 2.0)

    def test_end_to_end_names_match_benchmark_json(self):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
            spec = json.load(f)
        self.assertEqual([m["name"] for m in spec["end_to_end"]],
                         [n for n, _ in stats.END_TO_END])
        # BENCHMARK.json lists a subset of the per-layer metrics, in order
        names = stats.per_layer_names()
        listed = [(m["name"], m["unit"]) for m in spec["per_layer"]]
        self.assertEqual(listed, [nu for nu in names if nu in listed])
        self.assertLessEqual({w["name"] for w in spec["workloads"]}, set(stats.WORKLOAD_OPS))


class PerLayerTest(unittest.TestCase):
    def test_layer_totals_are_per_traced_op(self):
        spans = [span(1, 0, 0, 1_000_000, "text", "Curation.curatePublished", op=1),
                 span(2, 0, 1_000_000, 1_500_000, "plans", "executedPlan", op=1),
                 span(3, 0, 1_500_000, 3_500_000, "exec", "write.noop", op=1)]
        jobs = [{"ctx": 0, "id": 0, "span": 1, "cpu_ns": 10**9, "run_ms": 5,
                 "site": "graft.sources.PrefixSum$.f(PrefixSum.scala:1)\n"
                         "graft.text.Curation$.c(Curation.scala:1)",
                 "stages": 1, "tasks": 4, "gc_ms": 0, "shuffle_read": 0,
                 "shuffle_write": 0, "spill": 0, "input": 0, "output": 0,
                 "peak_exec_mem": 0},
                {"ctx": 0, "id": 1, "span": 3, "cpu_ns": 2 * 10**9, "run_ms": 7,
                 "site": "graftbench.Main$.writeNoop(Main.scala:1)",
                 "stages": 2, "tasks": 8, "gc_ms": 0, "shuffle_read": 2**20,
                 "shuffle_write": 0, "spill": 0, "input": 0, "output": 0,
                 "peak_exec_mem": 0}]
        rec = record([op(1, traced=True, ms=3.5), op(2, ms=3.0)])
        rec.update(spans=spans, jobs=jobs, cache=[{"op": 1, "rdds": 2, "bytes": 2**21}])
        m = stats.per_layer(rec)
        self.assertEqual(m["text.calls"], 1)
        self.assertEqual(m["text.wall_ms"], 1.0)
        self.assertEqual(m["text.jobs"], 1)
        self.assertEqual(m["sources.jobs"], 1)
        self.assertEqual(m["exec.jobs"], 1)
        self.assertEqual(m["exec.tasks"], 8)
        self.assertEqual(m["exec.shuffle_read_mb"], 1.0)
        self.assertEqual(m["queries.construct_jobs"], 1)
        self.assertEqual(m["plans.plan_ms"], 0.5)
        self.assertEqual(m["cache.mb_live_after"], 2.0)
        self.assertEqual(m["jobs.unattributed"], 0)
        self.assertAlmostEqual(m["overhead.op_p50_ms"], 3.5 / 3.0 - 1)
        self.assertEqual(set(m), {n for n, _ in stats.per_layer_names()})


class RepeatTest(unittest.TestCase):
    def test_seed_values_compare_only_within_one_build(self):
        def rec(value):
            return {"workload": "w", "seed": 1, "repeatable": {"v": value}, "checks": []}
        with tempfile.TemporaryDirectory() as base:
            first = rec(1)
            run.check_repeat(base, "classes-a", first)
            self.assertEqual(first["checks"], [])
            same, changed = rec(1), rec(2)
            run.check_repeat(base, "classes-a", same)
            run.check_repeat(base, "classes-a", changed)
            self.assertEqual([c["ok"] for c in same["checks"] + changed["checks"]],
                             [True, False])
            other_build = rec(2)
            run.check_repeat(base, "classes-b", other_build)
            self.assertEqual(other_build["checks"], [])


if __name__ == "__main__":
    unittest.main()
