"""Unit tests of the benchmark's own logic: the tail-percentile rule, span
self time, job-to-op attribution, failure accounting, metric-name rules,
the output check's type mapping, comparison and oracle cache key, the
batch script's shape, and the BENCHMARK.json schema. Run from the
repository root:

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import check  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402


class TailTest(unittest.TestCase):
    def test_absent_below_twenty_samples(self):
        self.assertIsNone(metrics.tail([1.0] * 19))
        self.assertIsNone(metrics.tail([]))

    def test_highest_percentile_with_ten_beyond(self):
        self.assertEqual(metrics.tail(list(range(1, 21))), (50.0, 10, 10))
        self.assertEqual(metrics.tail(list(range(1, 41)))[:2], (75.0, 30))
        self.assertEqual(metrics.tail(list(range(1, 101))), (90.0, 90, 10))
        self.assertEqual(metrics.tail(list(range(1, 1001))), (99.0, 990, 10))
        self.assertEqual(metrics.tail(list(range(1, 10001)))[0], 99.9)

    def test_order_does_not_matter(self):
        xs = [float(i % 37) for i in range(200)]
        self.assertEqual(metrics.tail(xs), metrics.tail(sorted(xs)))

    def test_every_chosen_rung_leaves_ten_beyond(self):
        for n in range(20, 400, 7):
            p, _, beyond = metrics.tail(list(range(n)))
            self.assertGreaterEqual(beyond, 10)


def span(i, parent, start, end, op=0, name="s"):
    return {"id": i, "parent": parent, "name": name, "op": op, "start_us": start, "end_us": end}


class SelfTimeTest(unittest.TestCase):
    def test_nested_spans_are_span_minus_child_coverage(self):
        spans = [span(0, -1, 0, 100), span(1, 0, 10, 40), span(2, 1, 20, 30), span(3, 0, 50, 60)]
        own, uncovered = metrics.self_times(spans, 0, 120)
        self.assertEqual(own, {0: 60, 1: 20, 2: 10, 3: 10})
        self.assertEqual(uncovered, 20)
        self.assertEqual(sum(own.values()) + uncovered, 120)

    def test_overlapping_siblings_are_credited_once(self):
        spans = [span(0, -1, 0, 100), span(1, 0, 10, 50), span(2, 0, 30, 70)]
        own, uncovered = metrics.self_times(spans, 0, 100)
        self.assertEqual(own, {0: 40, 1: 20, 2: 40})
        self.assertEqual(sum(own.values()) + uncovered, 100)

    def test_clipped_to_window(self):
        spans = [span(0, -1, -50, 30), span(1, -1, 80, 200)]
        own, uncovered = metrics.self_times(spans, 0, 100)
        self.assertEqual(own, {0: 30, 1: 20})
        self.assertEqual(uncovered, 50)


class AttributionTest(unittest.TestCase):
    OPS = [{"id": 0, "start_us": 0, "end_us": 100_000},
           {"id": 1, "start_us": 200_000, "end_us": 300_000},
           {"id": 2, "start_us": 250_000, "end_us": 260_000}]

    def job(self, j, start, op):
        return {"job": j, "start_us": start, "end_us": start + 1000, "op": op}

    def test_property_inside_its_window_wins(self):
        got = metrics.attribute_jobs([self.job(7, 255_000, 1)], self.OPS)
        self.assertEqual(got, {7: 1})

    def test_missing_property_falls_back_to_time_window(self):
        got = metrics.attribute_jobs([self.job(7, 50_000, None)], self.OPS)
        self.assertEqual(got, {7: 0})

    def test_stale_inherited_property_falls_back_to_time_window(self):
        # an engine thread created during op 0 still carries op 0's property
        got = metrics.attribute_jobs([self.job(7, 220_000, 0)], self.OPS)
        self.assertEqual(got, {7: 1})

    def test_nested_windows_pick_the_latest_started_op(self):
        got = metrics.attribute_jobs([self.job(7, 255_000, None)], self.OPS)
        self.assertEqual(got, {7: 2})

    def test_job_outside_every_op_is_unattributed(self):
        got = metrics.attribute_jobs([self.job(7, 150_000, None)], self.OPS)
        self.assertEqual(got, {7: None})

    def test_job_spans_hang_under_the_deepest_holding_span(self):
        spans = [span(0, -1, 0, 100_000, op=0, name="op.registry"),
                 span(1, 0, 10_000, 90_000, op=0, name="execute")]
        jobs = [self.job(3, 20_000, 0)]
        js = metrics.job_spans(jobs, spans, {3: 0}, 10)
        self.assertEqual([(s["id"], s["parent"], s["start_us"], s["end_us"]) for s in js],
                         [(10, 1, 20_000, 21_000)])


class FailureAccountingTest(unittest.TestCase):
    def run_record(self):
        ops = [{"id": 0, "kind": "setup", "seconds": 5.0},
               {"id": 1, "kind": "registry", "name": "a", "seconds": 1.0},
               {"id": 2, "kind": "registry", "name": "b", "seconds": 0.01},
               {"id": 3, "kind": "registry", "name": "c", "seconds": 3.0}]
        return {"ops": ops, "session_s": 2.0, "setup_prep_s": [5.0, 4.0, 6.0],
                "passes": [{"wall_s": 4.5, "cpu_s": 9.0}], "retained_heap_mb": 70.0}

    def test_failed_op_is_counted_and_never_a_latency(self):
        e2e = metrics.end_to_end(self.run_record(), {2: "row 0 differs"})
        self.assertEqual((e2e["attempted"], e2e["failed"]), (3, 1))
        self.assertAlmostEqual(e2e["fail_ratio"], 1 / 3)
        self.assertEqual(e2e["op_p50_s"], 2.0)  # median of 1.0 and 3.0; 0.01 excluded
        self.assertEqual(e2e["setup_s"], 7.0)  # session + median prep
        self.assertIsNone(e2e["op_tail_s"])


class NamesTest(unittest.TestCase):
    def test_metric_names(self):
        for good in ["wall_s", "spark.exec_run_s", "kernel.minhash_s", "a", "9x", "a-b.c_d"]:
            self.assertTrue(metrics.valid_name(good), good)
        for bad in ["", "_x", ".x", "a b", "a/b", "x" * 65, "é", "a:b"]:
            self.assertFalse(metrics.valid_name(bad), bad)

    def test_units(self):
        for good in ["ms", "s", "1/s", "count", "MB/op", "%"]:
            self.assertTrue(metrics.valid_unit(good), good)
        for bad in ["", "m s", "x" * 17]:
            self.assertFalse(metrics.valid_unit(bad), bad)


class CheckTest(unittest.TestCase):
    def test_type_mapping(self):
        self.assertEqual(check.duck_type("bigint"), "BIGINT")
        self.assertEqual(check.duck_type("decimal(28,2)"), "DECIMAL(28,2)")
        self.assertEqual(check.duck_type("array<bigint>"), "BIGINT[]")
        self.assertEqual(check.duck_type("struct<a:int,b:array<string>>"),
                         "STRUCT(a INTEGER, b VARCHAR[])")
        self.assertEqual(check.duck_type("timestamp"), "TIMESTAMP")

    def test_compare_types_values_and_order(self):
        import duckdb
        con = duckdb.connect()
        sql = ("SELECT CAST(1 AS BIGINT) AS b, 0.5::DOUBLE AS a, CAST(2.50 AS DECIMAL(10,2)) AS d "
               "UNION ALL SELECT 2, 1.5, 3.25 ORDER BY b")
        expected = check.answer(con, sql)
        schema = [["b", "bigint"], ["a", "double"], ["d", "decimal(10,2)"]]
        good = {"schema": schema, "rows": [[1, 0.5, "2.50"], [2, 1.5, "3.25"]]}
        self.assertIsNone(check.compare(good, expected))
        swapped = {"schema": schema, "rows": [[2, 1.5, "3.25"], [1, 0.5, "2.50"]]}
        self.assertIn("row 0", check.compare(swapped, expected))
        widened = {"schema": [["b", "int"], ["a", "double"], ["d", "decimal(10,2)"]],
                   "rows": good["rows"]}
        self.assertIn("type drift", check.compare(widened, expected))
        rendered = {"schema": schema, "rows": [[1, 0.5, "2.5"], [2, 1.5, "3.25"]]}
        self.assertIsNotNone(check.compare(rendered, expected))


class OracleCacheTest(unittest.TestCase):
    def test_key_follows_the_stamped_base_directory(self):
        import duckdb
        con = duckdb.connect()
        with tempfile.TemporaryDirectory() as cache:
            one = check.cached_answer(con, "SELECT 1 AS x", cache, "d/base-0.01-aaaa")
            check.cached_answer(con, "SELECT 1 AS x", cache, "d/base-0.01-aaaa/")
            self.assertEqual(len(os.listdir(cache)), 1)
            check.cached_answer(con, "SELECT 1 AS x", cache, "d/base-0.01-bbbb")
            self.assertEqual(len(os.listdir(cache)), 2)
            self.assertEqual(one["rows"], [[1]])


class BatchScriptTest(unittest.TestCase):
    def test_one_pass_whose_cycle_keys_name_their_schedule_entry(self):
        sf = gen.SF
        gen.SF = 0.001
        try:
            with tempfile.TemporaryDirectory() as d:
                script, _ = gen.make_inputs("batch", 3, os.path.join(d, "in"),
                                            os.path.join(d, "cache"))
        finally:
            gen.SF = sf
        self.assertEqual(len(script["passes"]), 1)
        cycles = [op for op in script["passes"][0] if op["kind"] == "cycle"]
        self.assertEqual([c["name"] for c in cycles], ["arrival", "rerun", "changed"])
        for op in cycles:
            i = int(op["key"].split(":")[1])
            self.assertEqual(script["expect"]["cycles"][i]["label"], op["name"])
            self.assertEqual(op["bronze"], script["bronze"])
        registry = [op for op in script["passes"][0] if op["kind"] == "registry"]
        self.assertEqual(sorted(op["name"] for op in registry),
                         sorted(gen.CURATION + gen.STREAMING))
        self.assertFalse(any("data_dir" in op for op in registry))


class SchemaTest(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            self.raw = f.read()
        self.b = json.loads(self.raw)

    def test_top_level(self):
        self.assertLessEqual(len(self.raw.encode()), 64 * 1024)
        self.assertEqual(set(self.b), {"command", "paths", "run_seconds", "workloads",
                                       "end_to_end", "per_layer"})
        cmd = self.b["command"]
        self.assertTrue(1 <= len(cmd) <= 32 and all(isinstance(c, str) and len(c) <= 200 for c in cmd))
        self.assertFalse(any(c.startswith("/") or ".." in c.split("/") for c in cmd))
        self.assertTrue(1 <= len(self.b["paths"]) <= 16)
        for p in self.b["paths"]:
            self.assertRegex(p, r"^[A-Za-z0-9_./-]{1,200}$")
            self.assertTrue(os.path.isdir(os.path.join(ROOT, p)))
        self.assertIsInstance(self.b["run_seconds"], int)
        self.assertTrue(1 <= self.b["run_seconds"] <= 60)

    def test_workloads(self):
        w = self.b["workloads"]
        self.assertTrue(2 <= len(w) <= 8)
        for x in w:
            self.assertEqual(set(x), {"name", "why"})
            self.assertTrue(metrics.valid_name(x["name"]))
            self.assertTrue(len(x["why"]) <= 200 and "\n" not in x["why"])
        self.assertEqual({x["name"] for x in w}, set(gen.WORKLOADS))

    def test_metrics(self):
        e2e, layers = self.b["end_to_end"], self.b["per_layer"]
        self.assertTrue(1 <= len(e2e) <= 16 and 1 <= len(layers) <= 128)
        names = [m["name"] for m in e2e + layers] + [w["name"] for w in self.b["workloads"]]
        self.assertEqual(len(names), len(set(names)))
        for m in e2e:
            self.assertEqual(set(m), {"name", "unit", "better", "bound"})
            self.assertTrue(0 < m["bound"] <= 0.25)
        for m in layers:
            self.assertEqual(set(m), {"name", "unit", "better"})
        for m in e2e + layers:
            self.assertTrue(metrics.valid_name(m["name"]), m["name"])
            self.assertTrue(metrics.valid_unit(m["unit"]), m["unit"])
            self.assertIn(m["better"], ("lower", "higher"))
        setup = [m for m in e2e if m["name"] == "setup_s"]
        self.assertEqual(len(setup), 1)
        self.assertEqual((setup[0]["unit"], setup[0]["better"]), ("s", "lower"))
        self.assertEqual(setup[0]["bound"], max(m["bound"] for m in e2e))

    def test_every_metric_is_produced(self):
        run = {"ops": [{"id": 0, "kind": "setup", "seconds": 1.0, "start_us": 0, "end_us": 10}],
               "session_s": 1.0, "setup_prep_s": [1.0], "passes": [{"wall_s": 1.0, "cpu_s": 2.0}],
               "retained_heap_mb": 1.0, "gc_s": 0.0, "workload": "dashboard",
               "region_start_us": 0, "region_end_us": 10}
        e2e = metrics.end_to_end(run, {})
        for m in self.b["end_to_end"]:
            self.assertIn(m["name"], e2e)
        probes = {k: 0.0 for k in ["tables.read_s", "quality.gate_s", "quality.rows_checked",
                                   "gold.files", "gold.bytes", "landing.files", "landing.bytes",
                                   "incremental.bytes_appended"]}
        probes.update({m["name"]: 0.1 for m in self.b["per_layer"]
                       if m["name"].startswith(("kernel.", "textops."))})
        tr = {"jobs": [], "stages": [], "streaming": [], "probes": probes}
        layers, _ = metrics.per_layer(run, tr, {}, [], 4)
        self.assertEqual({m["name"] for m in self.b["per_layer"]} - set(layers), set())


if __name__ == "__main__":
    unittest.main()
