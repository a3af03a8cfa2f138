"""Benchmark self-tests: run with `python3 -m unittest discover perfbench/tests`."""
import json
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import duckdb  # noqa: E402

import metrics  # noqa: E402
import oracle  # noqa: E402

BENCHMARK = os.path.join(os.path.dirname(os.path.dirname(HERE)), "BENCHMARK.json")

COUNTERS = {k: 1.0 for k in ("jobs", "stages", "tasks", "failed_tasks", "task_run_s",
                             "task_cpu_s", "gc_s", "input_bytes", "shuffle_read_bytes",
                             "shuffle_write_bytes", "spill_bytes")}


def op(name, wall, ok=True):
    if not ok:
        return {"id": f"w/1/{name}", "pass": 1, "name": name, "ok": False, "phase": "exec",
                "err_class": "org.apache.spark.SparkRuntimeException", "err": "planted"}
    return {"id": f"w/1/{name}", "pass": 1, "name": name, "ok": True, "correct": True,
            "build_s": wall / 4, "plan_s": wall / 4, "exec_s": wall / 2, "wall_s": wall,
            "cpu_s": 2 * wall,
            "build": COUNTERS, "plan": COUNTERS, "exec": COUNTERS,
            "final_exchanges": 1, "final_range_exchanges": 1}


def tick(kind, wall):
    t = {"kind": kind, "pass": 1, "ok": True, "correct": True, "wall_s": wall,
         "cpu_s": 2 * wall, "choose_s": 0.1,
         "commit_s": 0.1, "tick_bytes_written": 100,
         "exec": COUNTERS, "input_bytes": 10 if kind == "load" else 0}
    if kind == "load":
        t.update(write_s=0.5, grant_s=0.01, bytes_written=90, files_written=3, read_back_s=0.2)
    return t


def result(workload, ops=(), ticks=()):
    kernels = {k: {"ns_per_row": 1.0, "builtin_ns_per_row": 2.0, "agree": True}
               for k in metrics.KERNELS}
    passes = [{"pass": 1, "wall_s": 1.0, "trace_s": 0.01, "bytes_written": 5,
               "scope_before": 0, "scope_after": 2, "scope_builds": 2}]
    return {"workload": workload, "cores": 4, "setup_s": [3.0, 1.0, 1.2],
            "setup_cpu_s": [6.0, 2.0, 2.4],
            "table_memo": {"miss_s": 0.1, "hit_s": 0.001}, "peak_heap_mb": 100.0,
            "ops": list(ops), "passes": passes, "ticks": list(ticks), "functions": kernels,
            "trace_self_s": {}, "input_bytes": 1000}


def sample(workload):
    if workload == "etl_ingest":
        return result(workload, ticks=[tick("load", 1.0), tick("noop", 0.2)])
    return result(workload, ops=[op("a", 0.5), op("b", 1.5)])


class MetricNames(unittest.TestCase):
    def test_printed_names_and_units_equal_benchmark_json(self):
        with open(BENCHMARK) as f:
            declared = json.load(f)
        self.assertEqual(sorted(w["name"] for w in declared["workloads"]),
                         sorted(metrics.WORKLOADS))
        for key, traced in (("end_to_end", False), ("per_layer", True)):
            want = {m["name"]: m["unit"] for m in declared[key]}
            for w in metrics.WORKLOADS:
                got = metrics.compute(w, sample(w), traced)
                self.assertEqual({k: v["unit"] for k, v in got.items()}, want, (key, w))

    def test_end_to_end_metrics_are_never_zero(self):
        for w in metrics.WORKLOADS:
            for k, v in metrics.compute(w, sample(w), False).items():
                self.assertGreater(v["value"], 0, (w, k))


class PlantedFailure(unittest.TestCase):
    def test_thrown_operation_is_failed_with_its_error_class_and_not_timed(self):
        good = op("good", 0.5)
        sql = "SELECT 1 AS v"
        good.update(oracle=sql, **oracle.expected(duckdb.connect(), sql))
        res = result("mix_sf001", ops=[good, op("planted", 0.0, ok=False)])
        with tempfile.TemporaryDirectory() as data:
            with open(os.path.join(data, "_gen_params"), "w") as f:
                f.write("test")
            judged = oracle.judge(res, data, 0, os.path.join(data, "cache"))
        self.assertEqual(judged["attempted"], 2 + len(metrics.KERNELS))
        self.assertEqual(judged["failed"], 1)
        self.assertIn("SparkRuntimeException", judged["problems"][0])
        m = metrics.compute("mix_sf001", res, False)
        self.assertEqual(m["op_cpu_p50_s"]["value"], 1.0)
        self.assertEqual(m["pass_cpu_s"]["value"], 1.0)
        self.assertEqual(m["setup_s"]["value"], 2.4)

    def test_disagreeing_kernel_is_a_failure(self):
        res = sample("mix_sf001")
        res["functions"]["char_entropy"]["agree"] = False
        res["ops"] = []
        judged = oracle.judge(res, "", 0, "")
        self.assertEqual(judged["failed"], 1)


class Spelling(unittest.TestCase):
    def test_cells_are_spelled_like_the_runner(self):
        self.assertEqual(oracle.cell(None), "N")
        self.assertEqual(oracle.cell(-3), "I-3")
        self.assertEqual(oracle.cell("né"), "S3:né")
        self.assertEqual(oracle.cell(1.0), "D3ff0000000000000")
        self.assertEqual(oracle.cell(-0.0), "D8000000000000000")
        self.assertEqual(oracle.cell([1, None]), "L[I1,N]")
        self.assertEqual(oracle.canon_duck_type("DECIMAL(18,2)[]"), "list<decimal(18,2)>")
        self.assertTrue(oracle.canon_duck_type("HUGEINT").startswith("!"))


if __name__ == "__main__":
    unittest.main()
