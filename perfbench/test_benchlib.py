"""Tests of the benchmark's pure helpers. Run from the repository root:

    python3 -m unittest perfbench/test_benchlib.py

The last test also checks the JVM-side digest's invariants when RequestBench
has been built (by a benchmark run or perfbench/build.sh)."""
import json
import os
import subprocess
import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import benchlib  # noqa: E402
import run as RUN  # noqa: E402


class FingerprintTest(unittest.TestCase):
    cols = ["b", "a"]
    rows = [(1.5, "x"), (float("nan"), "y"), (-0.0, "z")]

    def test_independent_of_row_order(self):
        self.assertEqual(benchlib.fingerprint(self.cols, self.rows),
                         benchlib.fingerprint(self.cols, list(reversed(self.rows))))

    def test_independent_of_column_order(self):
        swapped = [(a, b) for b, a in self.rows]
        self.assertEqual(benchlib.fingerprint(self.cols, self.rows),
                         benchlib.fingerprint(["a", "b"], swapped))

    def test_nan_is_stable_and_distinct(self):
        self.assertEqual(benchlib.norm(float("nan")), "NaN")
        other = [(1.5, "x"), (0.0, "y"), (-0.0, "z")]
        self.assertNotEqual(benchlib.fingerprint(self.cols, self.rows),
                            benchlib.fingerprint(self.cols, other))

    def test_negative_zero_is_zero(self):
        self.assertEqual(benchlib.norm(-0.0), benchlib.norm(0.0))
        self.assertEqual(benchlib.norm(-0.00001), "0.0000")
        self.assertEqual(benchlib.fingerprint(["v"], [(-0.0,)]),
                         benchlib.fingerprint(["v"], [(0.0,)]))

    def test_values_rounded_like_check_py(self):
        self.assertEqual(benchlib.norm(1.23456), "1.2346")
        self.assertEqual(benchlib.norm(7), "7")
        self.assertEqual(benchlib.norm(None), "None")


class TailTest(unittest.TestCase):
    def test_ten_samples_beyond(self):
        values = list(range(1, 101))  # 100 samples
        pct, v = benchlib.tail_percentile(values)
        self.assertEqual(v, 90)
        self.assertAlmostEqual(pct, 90.0)
        self.assertEqual(sum(1 for x in values if x > v), 10)

    def test_order_does_not_matter(self):
        values = [5, 1, 9, 3, 7, 2, 8, 4, 6, 10, 11, 12]
        self.assertEqual(benchlib.tail_percentile(values),
                         benchlib.tail_percentile(sorted(values)))
        self.assertEqual(benchlib.tail_percentile(values)[1], 2)

    def test_needs_more_than_ten(self):
        with self.assertRaises(ValueError):
            benchlib.tail_percentile(list(range(10)))
        pct, v = benchlib.tail_percentile(list(range(11)))
        self.assertEqual(v, 0)
        self.assertAlmostEqual(pct, 100 / 11)


class SelfTimeTest(unittest.TestCase):
    def span(self, a, b):
        return {"start": a, "end": b}

    def test_no_children(self):
        self.assertAlmostEqual(benchlib.self_time(self.span(0, 10), []), 10)

    def test_overlapping_children_count_once(self):
        kids = [self.span(1, 4), self.span(3, 6), self.span(8, 9)]
        self.assertAlmostEqual(benchlib.self_time(self.span(0, 10), kids), 4)

    def test_children_clipped_to_parent(self):
        kids = [self.span(-5, 2), self.span(9, 20)]
        self.assertAlmostEqual(benchlib.self_time(self.span(0, 10), kids), 7)

    def test_nested_spans(self):
        req = {"key": "k", "start": 100.0, "build_s": 2.0, "plan_s": 0.5, "exec_s": 1.5}
        jobs = [{"key": "k", "phase": "build", "job": 1, "start": 100.5, "end": 101.0},
                {"key": "k", "phase": "exec", "job": 2, "start": 102.6, "end": 103.9},
                {"key": "other", "phase": "exec", "job": 3, "start": 102.7, "end": 103.0}]
        spans = benchlib.build_spans([req], jobs)
        st = benchlib.self_times(spans)
        self.assertAlmostEqual(st["r0"], 0.0)          # phases cover the request
        self.assertAlmostEqual(st["r0.build"], 1.5)
        self.assertAlmostEqual(st["r0.plan"], 0.5)
        self.assertAlmostEqual(st["r0.exec"], 0.2)
        self.assertNotIn("j3", st)                     # another key's job


class StatsTest(unittest.TestCase):
    def test_median(self):
        self.assertEqual(benchlib.median([3, 1, 2]), 2)
        self.assertEqual(benchlib.median([4, 1, 3, 2]), 2.5)


# per-job counters of RequestBench's listener (RequestBench.Tracer.Names)
JOB_COUNTERS = ("tasks", "task_failures", "empty_tasks", "task_cpu_s", "sched_wait_s",
                "input_mb", "output_mb", "shuffle_read_mb", "shuffle_write_mb",
                "spill_mb", "peak_exec_mem_mb", "task_run_s")


def synthetic_events():
    """A two-pass traced run of two keys, in RequestBench's record format."""
    ev = [{"type": "setup", "rep": r, "session_s": 0.1 * r, "warm_s": 1.0 * r,
           "wall_s": 1.5 * r} for r in (1, 2, 3)]
    t = 1000.0
    for p in (1, 2):
        for key in ("a", "b"):
            ev.append({"type": "req", "pass": p, "key": key, "start": t, "end": t + 0.6,
                       "build_s": 0.1, "plan_s": 0.2, "exec_s": 0.3, "barrier_s": 0.01,
                       "gc_s": 0.0, "pins": 1, "storage_mb": 0.5, "plan_nodes": 7,
                       "plan_exchanges": 1})
            if p == 2:
                for ph, a in (("build", 0.02), ("exec", 0.35)):
                    ev.append(dict({"type": "job", "key": key, "phase": ph, "job": len(ev),
                                    "start": t + a, "end": t + a + 0.05, "stages": 1},
                                   **{c: 1.0 for c in JOB_COUNTERS}))
            t += 0.7
        ev.append({"type": "pass", "pass": p, "traced": p == 2, "n": 2, "wall_s": 1.4,
                   "cpu_s": 1.2, "process_cpu_s": 2.0, "gc_s": 0.0, "jit_s": 0.5})
    ev.append({"type": "end", "peak_rss_mb": 900.0, "codegen_s": 0.4, "codegen_classes": 9})
    return ev


class MetricNamesTest(unittest.TestCase):
    """The metrics a run prints are exactly the ones BENCHMARK.json declares."""

    def setUp(self):
        path = Path(__file__).resolve().parent.parent / "BENCHMARK.json"
        if not path.is_file():
            self.skipTest("no BENCHMARK.json beside perfbench")
        self.spec = json.loads(path.read_text())

    def declared(self, kind):
        return {m["name"]: m["unit"] for m in self.spec[kind]}

    def test_per_layer(self):
        metrics, extra, spans = RUN.per_layer(synthetic_events())
        self.assertEqual({k: u for k, (_, u) in metrics.items()}, self.declared("per_layer"))
        self.assertAlmostEqual(metrics["build.s"][0], 0.2)
        self.assertAlmostEqual(metrics["exec.self_s"][0], 0.5)
        self.assertEqual(metrics["exec.jobs"][0], 2)

    def test_end_to_end(self):
        ev = synthetic_events()
        for i in range(10):  # enough samples for a tail
            ev.append(dict(ev[3], start=0.0, end=0.1 * i))
        reqs = [e for e in ev if e["type"] == "req"]
        metrics, extra = RUN.end_to_end(ev, reqs)
        self.assertEqual({k: u for k, (_, u) in metrics.items()}, self.declared("end_to_end"))
        self.assertEqual(extra["latency_samples"], 14)


class JvmDigestTest(unittest.TestCase):
    def test_jvm_digest_invariants(self):
        classes = Path(".bench_build/graftbench/classes")
        if not classes.is_dir():
            self.skipTest("RequestBench not built; run perfbench/build.sh first")
        r = subprocess.run(["java", "-cp", f"{classes}:{RUN.spark_jars()}",
                            "graftbench.RequestBench", "--self-test"],
                           capture_output=True, text=True, env=dict(os.environ))
        self.assertEqual(r.returncode, 0, r.stdout + r.stderr)


if __name__ == "__main__":
    unittest.main()
