"""Tests for the benchmark's own arithmetic and for the output fingerprint.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

The fingerprint test compiles the harness (perfbench/build.py) and runs
it in a small local Spark session."""

import json
import os
import shutil
import subprocess
import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import benchlib  # noqa: E402
import build  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        xs = [5, 1, 4, 2, 3]
        self.assertEqual(benchlib.percentile(xs, 0.5), 3)
        self.assertEqual(benchlib.percentile(xs, 1.0), 5)
        self.assertEqual(benchlib.percentile(xs, 0.2), 1)

    def test_rejects_empty_and_bad_quantile(self):
        with self.assertRaises(ValueError):
            benchlib.percentile([], 0.5)
        with self.assertRaises(ValueError):
            benchlib.percentile([1], 0)

    def test_tail_needs_ten_samples_beyond(self):
        xs = list(range(100))
        self.assertEqual(benchlib.tail(xs, 0.9), 89)  # 90..99 lie beyond
        with self.assertRaises(ValueError):
            benchlib.tail(xs[:99], 0.9)  # only 9 beyond
        with self.assertRaises(ValueError):
            benchlib.tail(list(range(15)), 0.5)

    def test_highest_tail_picks_the_highest_level_allowed(self):
        self.assertEqual(benchlib.highest_tail(list(range(50))), (0.8, 39))
        self.assertEqual(benchlib.highest_tail(list(range(100))), (0.9, 89))
        self.assertIsNone(benchlib.highest_tail(list(range(19))))


class IntervalTest(unittest.TestCase):
    def test_union_counts_overlap_once(self):
        self.assertEqual(benchlib.union_length([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(benchlib.union_length([(0, 10), (2, 3)]), 10)
        self.assertEqual(benchlib.union_length([(3, 3), (4, 2)]), 0)
        self.assertEqual(benchlib.union_length([]), 0)
        self.assertEqual(benchlib.union_length([(0, 1), (1, 2)]), 2)

    def test_driver_gap_is_wall_minus_job_union(self):
        self.assertEqual(benchlib.driver_gap(10, [(0, 2), (1, 3), (5, 6)]), 6)
        self.assertEqual(benchlib.driver_gap(4, []), 4)


def span(id, parent, kind, start, end, name="", qid="q1", **attrs):
    return {"id": id, "parent": parent, "kind": kind, "name": name, "qid": qid,
            "start": start, "end": end, "attrs": attrs}


class SelfTimeTest(unittest.TestCase):
    def test_children_clipped_and_merged(self):
        parent = span("b", "", "build", 0, 10)
        kids = [span("j1", "b", "job", 1, 3), span("j2", "b", "job", 2, 4),
                span("j3", "b", "job", 8, 12)]
        self.assertEqual(benchlib.self_time(parent, kids), 5)

    def test_self_times_per_kind(self):
        spans = [span("q", "p", "query", 0, 10), span("b", "q", "build", 0, 6),
                 span("a", "q", "action", 6, 10), span("j", "a", "job", 7, 9),
                 span("s", "j", "stage", 7, 8)]
        got = benchlib.self_times(spans)
        self.assertEqual(got, {"query": 0, "build": 6, "action": 2, "job": 1, "stage": 1})


def op(qid, name, module, build_s, action_s, error=None):
    return {"qid": qid, "name": name, "module": module, "build_s": build_s,
            "action_s": action_s, "wall_s": build_s + action_s, "error": error}


def pass_(index, ops, traced=True):
    return {"index": index, "kind": "first" if index == 0 else "warm", "traced": traced,
            "ops": ops, "heap_live_mb": 100.0 + index, "retained_mb": 1.0, "jit_s": 2.0,
            "gc_s": 0.1, "codegen_compiles": 3.0, "codegen_compile_s": 0.2}


class ReduceTest(unittest.TestCase):
    raw = {
        "setup_s": 5.0,
        "counted_warm": 2,
        "passes": [pass_(0, [op("q1", "a", "CoreQueries", 1.0, 2.0)]),
                   pass_(1, [op("q2", "a", "CoreQueries", 0.5, 1.5)]),
                   pass_(2, [op("q3", "a", "CoreQueries", 0.5, 0.5)], traced=False),
                   pass_(3, [op("q4", "a", "CoreQueries", 0.1, 0.1)])],
        "checks": [{"name": "a", "fingerprint": "3:9", "error": None}],
    }

    def test_end_to_end(self):
        m = benchlib.end_to_end(self.raw)
        self.assertEqual(m["setup_s"], 5.0)
        self.assertEqual(m["first_pass_s"], 3.0)
        self.assertEqual(m["warm_pass_s"], 1.5)
        self.assertEqual(m["heap_live_mb"], 102.0)
        self.assertEqual(set(m), {n for n, _ in benchlib.END_TO_END})

    def test_outcome_counts_errors_and_mismatches(self):
        self.assertEqual(benchlib.outcome(self.raw, {"a": "3:9"}), (5, 0, []))
        attempted, failed, problems = benchlib.outcome(self.raw, {"a": "3:8"})
        self.assertEqual((attempted, failed), (5, 1))
        self.assertIn("a:", problems[0])
        self.assertEqual(benchlib.outcome(self.raw, {})[1], 1)

    def test_per_layer_splits_the_traced_warm_pass(self):
        t0 = 1000.0
        spans = [
            span("p1", "run", "pass", t0, t0 + 2000, qid=""),
            span("q2", "p1", "query", t0, t0 + 2000, qid="q2"),
            span("q2.b", "q2", "build", t0, t0 + 500, qid="q2"),
            span("q2.a", "q2", "action", t0 + 500, t0 + 2000, qid="q2"),
            span("j1", "q2.b", "job", t0 + 100, t0 + 300, name="parquet at Tables.scala:12", qid="q2"),
            span("j2", "q2.a", "job", t0 + 600, t0 + 1600, name="save at Main.scala:1", qid="q2"),
            span("s1", "j2", "stage", t0 + 600, t0 + 1500, qid="q2", tasks=4, cpu_s=2.5, delay_s=0.1),
            span("pl", "q2.a", "plan", t0 + 500, t0 + 550, name="optimization", qid="q2"),
        ]
        m, split = benchlib.per_layer(self.raw, spans)
        self.assertEqual(set(m), {n for n, _ in benchlib.PER_LAYER})
        self.assertAlmostEqual(m["sched.job_s"], 1.2)
        self.assertAlmostEqual(m["sched.driver_gap_s"], 0.8)
        self.assertEqual(m["sched.jobs"], 2)
        self.assertEqual(m["tables.load_jobs"], 1)
        self.assertAlmostEqual(m["tables.load_s"], 0.2)
        self.assertEqual(m["queries.eager_jobs"], 1)
        self.assertEqual(m["sched.tasks"], 4)
        self.assertEqual(m["exec.cpu_s"], 2.5)
        self.assertAlmostEqual(m["plan.optimize_s"], 0.05)
        self.assertAlmostEqual(m["trace.unattributed_s"], 0.75)
        self.assertAlmostEqual(m["self.build_s"], 0.3)
        self.assertEqual(m["module.CoreQueries.wall_s"], 2.0)
        self.assertEqual(m["trace.overhead"], 2.0)
        self.assertEqual(split[0]["pass"], 1)


class DeclarationTest(unittest.TestCase):
    def test_benchmark_json_declares_the_metrics_run_py_prints(self):
        decl = json.loads((build.ROOT / "BENCHMARK.json").read_text())
        self.assertEqual([(m["name"], m["unit"]) for m in decl["end_to_end"]],
                         benchlib.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in decl["per_layer"]],
                         benchlib.PER_LAYER)


class FingerprintTest(unittest.TestCase):
    def test_row_order_does_not_change_the_fingerprint(self):
        try:
            classes = build.build()
        except SystemExit as e:
            self.skipTest(str(e))
        tmp = build.BUILD / "tmp" / f"fingerprint-{os.getpid()}"
        tmp.mkdir(parents=True, exist_ok=True)
        sys.path.insert(0, str(build.HERE))
        import run
        try:
            r = subprocess.run(
                ["java", f"-Djava.io.tmpdir={tmp}"] + run.JVM_OPTS
                + ["-cp", f"{classes}{os.pathsep}{build.spark_jars()}/*",
                   "perfbench.FingerprintCheck"],
                capture_output=True, text=True, timeout=300)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
        self.assertEqual(r.returncode, 0, r.stdout[-2000:] + r.stderr[-2000:])
        self.assertIn("fingerprint ok", r.stdout)


if __name__ == "__main__":
    unittest.main()
