"""Spec of the benchmark's output format and metric arithmetic.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import sys
import unittest
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
import metrics  # noqa: E402
import run  # noqa: E402

BENCH = json.loads((Path(__file__).resolve().parents[2] / "BENCHMARK.json").read_text())


def raw_run(walls=(5.0, 5.2, 5.1), latencies=(1.0, 2.0), error_at=None):
    passes = []
    for i, w in enumerate(walls, 1):
        qs = [{"name": f"q{j}", "build_s": t / 4, "exec_s": 3 * t / 4,
               "error": "boom" if (i, j) == error_at else None}
              for j, t in enumerate(latencies)]
        passes.append({"index": i, "traced": False, "wall_s": w, "gc_s": 0.1,
                       "heap_post_gc_mb": 100.0 * i, "queries": qs})
    return {"cpus": 4, "queries": [f"q{j}" for j in range(len(latencies))],
            "setup": {"session_s": 1.0, "warmup_s": 3.0, "setup_s": 4.5},
            "passes": passes, "spans": [], "operators": {}}


class ResultLineTest(unittest.TestCase):
    def test_result_line_is_bare_json_with_every_end_to_end_metric(self):
        e2e, counts = metrics.end_to_end(raw_run(), 0)
        units = {m["name"]: m["unit"] for m in BENCH["end_to_end"]}
        line = run.result_line(True, counts["attempted"], counts["failed"], e2e, units)
        # parses as printed: no sbt "[info] " prefix, nothing before the brace
        self.assertTrue(line.startswith("{"))
        self.assertNotIn("[info]", line)
        self.assertNotIn("\n", line)
        doc = json.loads(line)
        self.assertEqual(set(doc), {"correct", "attempted", "failed", "metrics"})
        self.assertEqual(set(doc["metrics"]), set(units))
        for name, m in doc["metrics"].items():
            self.assertEqual(set(m), {"value", "unit"})
            self.assertEqual(m["unit"], units[name])
            self.assertIsInstance(m["value"], float)

    def test_metric_table_prints_name_value_unit(self):
        units = {"wall_s": "s", "heap_post_gc_mb": "MB"}
        rows = run.metric_table({"wall_s": 5.123456789, "heap_post_gc_mb": 300.5}, units)
        self.assertEqual(rows[0].split(), ["wall_s", "5.123456789", "s"])
        self.assertEqual(rows[1].split(), ["heap_post_gc_mb", "300.5", "MB"])

    def test_every_benchmark_workload_is_defined_in_workloads_json(self):
        names = {w["name"] for w in BENCH["workloads"]}
        self.assertLessEqual(names, set(run.load_spec()["workloads"]))


class EndToEndTest(unittest.TestCase):
    def test_pass_wall_takes_each_query_at_its_median(self):
        runs = [{"name": n, "build_s": 0.0, "exec_s": t} for n, t in
                [("a", 1.0), ("a", 9.0), ("a", 1.2), ("b", 2.0), ("b", 2.2), ("b", 2.1)]]
        self.assertAlmostEqual(metrics.pass_wall(runs), 1.2 + 2.1)

    def test_medians_and_failures(self):
        e2e, counts = metrics.end_to_end(raw_run(error_at=(2, 1)), 1)
        self.assertEqual(e2e["wall_s"], 1.0 + 2.0)
        self.assertEqual(e2e["heap_post_gc_mb"], 200.0)
        self.assertEqual(counts["attempted"], 2 + 6)
        self.assertEqual(counts["failed"], 2)
        self.assertAlmostEqual(e2e["ok_frac"], 1 - 2 / 8)
        # the failed run's latency is not a sample
        self.assertEqual(e2e["query_p50_s"], 1.0)

    def test_tail_has_ten_samples_above_it(self):
        xs = list(range(1, 37))  # 36 samples
        value, pct = metrics.tail(xs)
        self.assertEqual(sum(x > value for x in xs), 10)
        self.assertAlmostEqual(pct, 100 * 26 / 36)
        self.assertEqual(metrics.tail([3, 1, 2]), (3, 100.0))


class SpanTest(unittest.TestCase):
    def test_union_counts_overlaps_once(self):
        self.assertEqual(metrics.union_s([(0, 500), (250, 750), (900, 2000)], 0, 1000), 0.85)

    def test_query_row_and_self_times(self):
        def span(i, parent, kind, a, b, **attrs):
            return {"id": i, "parent": parent, "kind": kind, "name": f"{kind} {i}",
                    "start_ms": a, "end_ms": b, "attrs": attrs}
        stage = dict(tasks=1.0, run_s=0.2, cpu_s=0.1, shuffle_read_b=2 * metrics.MB)
        spans = [
            span(1, 0, "pass", 0, 2000),
            span(2, 1, "query", 0, 1800, ok=1.0),
            span(3, 2, "build", 0, 600),
            span(4, 2, "execute", 600, 1800),
            span(5, 3, "job", 100, 400),           # an eager job
            span(6, 5, "stage", 100, 400, **stage),
            span(7, 4, "job", 800, 1400),
            span(8, 7, "stage", 800, 1400, **dict(stage, tasks=4.0, run_s=2.0)),
            span(9, 4, "plan", 600, 700, planning_s=0.05, exchanges=2.0),
        ]
        kids = metrics.children_index(spans)
        row = metrics.query_row(spans[1], kids, cores=4)
        self.assertEqual((row["jobs"], row["eager_jobs"], row["stages"]), (2, 1, 2))
        self.assertAlmostEqual(row["build_s"], 0.6)
        self.assertAlmostEqual(row["driver_gap_s"], 1.2 - 0.6)
        self.assertAlmostEqual(row["single_task_stage_s"], 0.3)
        self.assertAlmostEqual(row["core_util"], 2.0 / (1.2 * 4))
        self.assertAlmostEqual(row["shuffle_read_mb"], 4.0)
        self.assertEqual(row["exchanges"], 2.0)
        st = metrics.self_times(spans, kids)
        self.assertAlmostEqual(st["pass"], 0.2)
        self.assertAlmostEqual(st["build"], 0.3)
        self.assertAlmostEqual(st["execute"], 0.6)
        self.assertAlmostEqual(st["stage"], 0.9)


if __name__ == "__main__":
    unittest.main()
