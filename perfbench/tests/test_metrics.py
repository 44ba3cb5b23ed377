"""Unit tests for the benchmark's pure parts.

Run from the repository root: python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import metrics  # noqa: E402


def span(id, parent, kind, start, end, **kw):
    return dict(id=id, parent=parent, kind=kind, start_ms=start, end_ms=end, **kw)


def call_spans(cid, pass_id, name, t0, a, plan_ms, t1):
    return [span(cid, pass_id, "call", t0, t1, name=name),
            span(f"{cid}.build", cid, "build", t0, a),
            span(f"{cid}.plan", cid, "plan", a, a + plan_ms),
            span(f"{cid}.execute", cid, "execute", a + plan_ms, t1)]


class ModuleAttribution(unittest.TestCase):
    MODULES = [("Relational", {"q1", "shared"}), ("TextOps", {"q2"}),
               ("DedupOps", {"shared"})]

    def test_a_later_module_wins_a_shared_name(self):
        self.assertEqual(metrics.module_of("shared", self.MODULES), "DedupOps")

    def test_single_owner(self):
        self.assertEqual(metrics.module_of("q1", self.MODULES), "Relational")
        self.assertEqual(metrics.module_of("q2", self.MODULES), "TextOps")

    def test_unknown_name_has_no_module(self):
        self.assertIsNone(metrics.module_of("nope", self.MODULES))


class ProfilePercentiles(unittest.TestCase):
    def test_each_query_contributes_its_median(self):
        calls = ([{"name": "a", "wall_s": w} for w in (1.0, 9.0, 2.0)]
                 + [{"name": "b", "wall_s": 4.0}])
        p50, p90 = metrics.profile_percentiles(calls)
        self.assertAlmostEqual(p50, 3.0)          # medians 2 and 4
        self.assertAlmostEqual(p90, 3.8)          # inclusive: 2 + 0.9 * 2

    def test_p90_sits_in_the_slowest_decile(self):
        calls = [{"name": f"q{i}", "wall_s": float(i)} for i in range(1, 11)]
        p50, p90 = metrics.profile_percentiles(calls)
        self.assertAlmostEqual(p50, 5.5)
        self.assertAlmostEqual(p90, 9.1)
        self.assertGreater(p90, 9.0)

    def test_one_query_is_not_a_profile(self):
        with self.assertRaises(ValueError):
            metrics.profile_percentiles([{"name": "a", "wall_s": 1.0}])


class SpanTree(unittest.TestCase):
    def test_self_time_subtracts_children(self):
        spans = ([span("p1", None, "pass", 0, 10_000)]
                 + call_spans("p1.c1", "p1", "q", 0, 3_000, 500, 9_000)
                 + [span("j1", "p1.c1.execute", "job", 4_000, 6_000)])
        st = metrics.self_times(spans)
        self.assertAlmostEqual(st["p1"], 1.0)        # 10 s pass, 9 s call
        self.assertAlmostEqual(st["p1.c1"], 0.0)     # phases cover the call
        self.assertAlmostEqual(st["p1.c1.execute"], 3.5)
        self.assertAlmostEqual(st["j1"], 2.0)

    def test_overlapping_children_count_once(self):
        spans = [span("a", None, "call", 0, 1_000),
                 span("b", "a", "job", 0, 800), span("c", "a", "job", 100, 900),
                 span("d", "a", "job", 950, 1_200)]
        self.assertAlmostEqual(metrics.self_times(spans)["a"], 0.05)

    def test_phases_cover_wall(self):
        spans = call_spans("p1.c1", "p1", "q", 0, 2_000, 100, 5_000)
        self.assertEqual(metrics.phases_cover_wall(spans, {"p1.c1": 5.002}, 0.01), [])
        self.assertEqual(metrics.phases_cover_wall(spans, {"p1.c1": 5.8}, 0.5), ["p1.c1"])
        gap = spans[:3] + [span("p1.c1.execute", "p1.c1", "execute", 2_100, 4_000)]
        self.assertEqual(metrics.phases_cover_wall(gap, {"p1.c1": 5.0}, 0.5), ["p1.c1"])


class FullPlan(unittest.TestCase):
    def test_full_write_keeps_joins_and_sort(self):
        self.assertTrue(metrics.full_plan_ok(
            {"joins": 2, "sorts": 1, "full_joins": 2, "full_sorts": 1}))

    def test_count_plan_is_rejected(self):
        # count() prunes u3_vader_sentiment's two joins and its sort
        self.assertFalse(metrics.full_plan_ok(
            {"joins": 0, "sorts": 0, "full_joins": 2, "full_sorts": 1}))
        self.assertFalse(metrics.full_plan_ok(
            {"joins": 2, "sorts": 0, "full_joins": 2, "full_sorts": 1}))

    def test_unobserved_action_is_rejected(self):
        self.assertFalse(metrics.full_plan_ok({"full_joins": 1, "full_sorts": 0}))

    def test_spans_without_expectation_pass(self):
        self.assertTrue(metrics.full_plan_ok({"joins": 0, "sorts": 0}))


class Metrics(unittest.TestCase):
    RUN = {"t0_ms": 0, "setup_end_ms": 30_000, "peak_rss_kb": 2048, "cores": 4,
           "sink": True,
           "modules": {"DedupOps": ["pipeline_dedup_corpus"], "MLOps": ["lq"]}}

    def records(self):
        calls = [
            {"pass": 0, "span": "p0.c1", "name": "pipeline_dedup_corpus", "wall_s": 9.0, "rows": -1,
             "error": None, "mismatch": False},
            {"pass": 0, "span": "p0.c2", "name": "lq", "wall_s": 9.0, "rows": -1,
             "error": None, "mismatch": False},
            {"pass": 1, "span": "p1.c3", "name": "pipeline_dedup_corpus", "wall_s": 4.0, "rows": -1,
             "error": None, "mismatch": False},
            {"pass": 1, "span": "p1.c4", "name": "lq", "wall_s": 6.0, "rows": -1,
             "error": "java.lang.IllegalStateException", "mismatch": False},
        ]
        passes = [
            {"pass": 0, "kind": "warm", "wall_s": 18.0, "gc_ms": 0,
             "cached_bytes": 100, "heap_bytes": 0},
            {"pass": 1, "kind": "traced", "wall_s": 10.0, "gc_ms": 500,
             "cached_bytes": 300, "heap_bytes": 7},
            {"pass": 2, "kind": "timed", "wall_s": 9.0, "gc_ms": 0,
             "cached_bytes": 400, "heap_bytes": 0},
        ]
        spans = ([span("p1", None, "pass", 0, 10_000)]
                 + call_spans("p1.c3", "p1", "pipeline_dedup_corpus", 0, 3_000, 200, 4_000)
                 + call_spans("p1.c4", "p1", "lq", 4_000, 8_000, 100, 10_000)
                 + [span("j1", "p1.c3.build", "job", 100, 600, stages=[1]),
                    span("j2", "p1.c3.build", "job", 700, 900, stages=[2]),
                    span("j3", "p1.c3.execute", "job", 3_300, 3_900, stages=[2, 3]),
                    span("j4", "p1.c4.execute", "job", 8_200, 9_900, stages=[4])])
        stage = dict(tasks=4, run_ms=1000, shuffle_write_bytes=10, spill_bytes=0,
                     input_bytes=100, input_rows=5, output_rows=7)
        stages = [dict(stage, stage=1, name="parquet at Tables.scala:15"),
                  dict(stage, stage=2, name="run at DedupOps.scala:90"),
                  dict(stage, stage=3, name="run at DedupOps.scala:91"),
                  dict(stage, stage=4, name="collect at MLOps.scala:7")]
        return calls, passes, spans, stages

    def test_end_to_end(self):
        calls, passes, _, _ = self.records()
        passes[1]["kind"] = "timed"
        e = metrics.end_to_end(self.RUN, calls, passes)
        self.assertEqual(set(e), set(metrics.END_TO_END))
        self.assertAlmostEqual(e["setup_s"], 30.0)
        self.assertAlmostEqual(e["pass_s"], 9.5)
        self.assertAlmostEqual(e["queries_per_s"], 2 / 19.0)

    def test_layers_attribute_calls_jobs_and_stages(self):
        calls, passes, spans, stages = self.records()
        out = metrics.layers(self.RUN, calls, passes, spans, stages,
                             {"peak_exec_mem_bytes": 42})
        self.assertEqual(set(out), set(metrics.LAYER_METRICS))
        self.assertAlmostEqual(out["DedupOps.build_s"], 3.0)
        self.assertEqual(out["DedupOps.build_jobs"], 2)
        self.assertEqual(out["pipeline_dedup_corpus.build_jobs"], 2)
        self.assertEqual(out["lda_em_topics.build_jobs"], 0)
        self.assertEqual(out["DedupOps.jobs"], 1)
        self.assertEqual(out["DedupOps.plan_ms"], 200)
        self.assertAlmostEqual(out["DedupOps.exec_s"], 0.8)
        # build 3.0 s minus jobs j1, j2 (0.7 s) + execute 0.8 s minus j3 (0.6 s)
        self.assertAlmostEqual(out["DedupOps.driver_s"], 2.3 + 0.2)
        # stage 2 ran once (job j2); j3 only adds stage 3
        self.assertEqual(out["DedupOps.tasks"], 12)
        self.assertEqual(out["MLOps.fail"], 1)
        self.assertEqual(out["MLOps.jobs"], 1)
        self.assertEqual(out["Tables.load_jobs"], 1)
        self.assertAlmostEqual(out["Tables.load_s"], 0.5)
        self.assertEqual(out["Tables.input_rows"], 20)
        self.assertEqual(out["sink.rows"], 14)        # stages 3 and 4
        self.assertAlmostEqual(out["sink.write_s"], 3.0)
        self.assertAlmostEqual(out["engine.busy_ratio"], 4.0 / 40.0)
        self.assertAlmostEqual(out["engine.gc_s"], 0.5)
        self.assertEqual(out["engine.cached_growth_bytes"], 300)
        self.assertEqual(out["engine.peak_exec_mem_bytes"], 42)
        self.assertAlmostEqual(out["engine.peak_rss_mb"], 2.0)
        self.assertAlmostEqual(out["trace.overhead_s"], 1.0)

    def test_units(self):
        self.assertEqual(metrics.unit_of("queries_per_s"), "1/s")
        self.assertEqual(metrics.unit_of("MLOps.plan_ms"), "ms")
        self.assertEqual(metrics.unit_of("pass_s"), "s")
        self.assertEqual(metrics.unit_of("Tables.input_bytes"), "bytes")
        self.assertEqual(metrics.unit_of("engine.peak_rss_mb"), "MB")
        self.assertEqual(metrics.unit_of("engine.busy_ratio"), "ratio")
        self.assertEqual(metrics.unit_of("GraphOps.jobs"), "count")


class BenchmarkFile(unittest.TestCase):
    def test_metric_lists_match_what_the_runner_prints(self):
        import json
        here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        with open(os.path.join(os.path.dirname(here), "BENCHMARK.json")) as f:
            bm = json.load(f)
        self.assertEqual([m["name"] for m in bm["end_to_end"]], metrics.END_TO_END)
        self.assertEqual([m["name"] for m in bm["per_layer"]], metrics.LAYER_METRICS)
        for m in bm["end_to_end"] + bm["per_layer"]:
            self.assertEqual(m["unit"], metrics.unit_of(m["name"]), m["name"])


class Fixture(unittest.TestCase):
    def test_same_seed_same_bytes_and_driver_shapes(self):
        import numpy as np
        import pyarrow.parquet as pq
        import gen
        rows = dict(gen.BASE_ROWS, documents=200, events=500, lineitem=600,
                    orders=150, customer=15, part=20, supplier=10, embeddings=20)
        with tempfile.TemporaryDirectory() as d:
            gen.write_base(f"{d}/a", 7, rows)
            gen.write_base(f"{d}/b", 7, rows)
            for t in os.listdir(f"{d}/a"):
                with open(f"{d}/a/{t}", "rb") as x, open(f"{d}/b/{t}", "rb") as y:
                    self.assertEqual(x.read(), y.read(), t)
            docs = pq.read_table(f"{d}/a/documents.parquet").to_pydict()
            self.assertEqual(len(docs["doc_id"]), 200)
            dups = [t for t in docs["text"] if t.endswith(" dup")]
            self.assertEqual(len(dups), 10)
            # a copy's original can itself be overwritten by a later copy
            self.assertGreaterEqual(sum(t[:-4] in docs["text"] for t in dups), 8)
            self.assertEqual(docs["source"][21], "src1")
            self.assertEqual(docs["n_chars"], [len(t) for t in docs["text"]])
            emb = pq.read_table(f"{d}/a/embeddings.parquet").to_pydict()["embedding"]
            self.assertAlmostEqual(float(np.linalg.norm(emb[0])), 1.0, places=5)

    def test_fidelity_reports_schema_and_row_count_differences(self):
        import pyarrow as pa
        import pyarrow.parquet as pq
        import fidelity
        import gen
        rows = dict(gen.BASE_ROWS, documents=40, events=50, lineitem=60,
                    orders=15, customer=15, part=20, supplier=10, embeddings=20)
        with tempfile.TemporaryDirectory() as d:
            gen.write_base(f"{d}/a", 7, rows)
            gen.write_base(f"{d}/b", 8, dict(rows, events=51))
            t = pq.read_table(f"{d}/b/orders.parquet")
            i = t.schema.get_field_index("o_orderdate")
            pq.write_table(t.set_column(i, "o_orderdate",
                                        t["o_orderdate"].cast(pa.timestamp("ms"))),
                           f"{d}/b/orders.parquet")
            got = {t: (same, a, b) for t, same, a, b in fidelity.tables(f"{d}/a", f"{d}/b")}
        self.assertEqual(got["events"], (True, 50, 51))
        self.assertEqual(got["orders"], (False, 15, 15))
        self.assertEqual(got["documents"], (True, 40, 40))


class OracleCompare(unittest.TestCase):
    def test_compare_follows_check_py(self):
        import pandas as pd
        import oracle
        root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
        check = oracle.load_check(root)
        a = pd.DataFrame({"k": [2, 1], "v": [0.5, 1.5]})
        b = pd.DataFrame({"v": [1.5, 0.5], "k": [1, 2]})
        self.assertIsNone(oracle.compare(check, a, b))
        self.assertEqual(oracle.canonical_hash(check, a), oracle.canonical_hash(check, b))
        c = pd.DataFrame({"k": [1, 2], "v": [1.5, 0.25]})
        self.assertIn("value", oracle.compare(check, a, c))
        d = pd.DataFrame({"k": [1.0, 2.0], "v": [1.5, 0.5]})
        self.assertIn("dtype", oracle.compare(check, a, d))


if __name__ == "__main__":
    unittest.main()
