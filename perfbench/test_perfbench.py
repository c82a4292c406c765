"""Self-test of the benchmark's own arithmetic and output shape.

    python3 perfbench/test_perfbench.py

Needs NumPy and pyarrow only: no Spark session is started.
"""

from __future__ import annotations

import json
import math
import os
import sys
import tempfile
import unittest

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402

with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as _fh:
    BENCHMARK = json.load(_fh)


class SelfTimeTest(unittest.TestCase):
    def test_union_length_merges_overlaps(self):
        self.assertEqual(stats.union_length([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(stats.union_length([]), 0)
        self.assertEqual(stats.clipped_union_length([(0, 2), (3, 9)], 1, 4), 2)

    def test_self_time_subtracts_children_once(self):
        spans = [
            {"start": 0.0, "end": 10.0, "parent": None},
            {"start": 1.0, "end": 4.0, "parent": 0},
            {"start": 3.0, "end": 5.0, "parent": 0},  # overlaps its sibling
            {"start": 2.0, "end": 3.0, "parent": 1},  # grandchild: not subtracted from 0
        ]
        self.assertEqual(stats.self_times(spans), [6.0, 2.0, 2.0, 1.0])

    def test_tracer_records_parents(self):
        tr = tracing.Tracer()
        outer = tr.begin("outer")
        inner = tr.begin("inner")
        tr.end(inner)
        tr.end(outer)
        self.assertIsNone(tr.spans[outer]["parent"])
        self.assertEqual(tr.spans[inner]["parent"], outer)


class ShapeTest(unittest.TestCase):
    def test_result_line_accepts_the_format(self):
        out = stats.result_line(True, 3, 0, {"x_s": stats.metric(1, "s")})
        self.assertEqual(set(out), {"correct", "attempted", "failed", "metrics"})
        self.assertIsInstance(out["metrics"]["x_s"]["value"], float)

    def test_result_line_rejects_bad_shapes(self):
        with self.assertRaises(ValueError):
            stats.result_line(True, 0, 0, {})
        with self.assertRaises(ValueError):
            stats.result_line(True, 1, 2, {})
        with self.assertRaises(ValueError):
            stats.result_line(True, 1, 0, {"x": {"value": float("nan"), "unit": "s"}})
        with self.assertRaises(ValueError):
            stats.check_result_shape(
                stats.result_line(True, 1, 0, {"a": stats.metric(1, "s")}), ["b"]
            )

    def test_end_to_end_names_match_benchmark_json(self):
        import run

        ph = run.Phase()
        ph.latencies, ph.cells, ph.wall = [0.1, 0.2, 0.3], 30, 1.0

        class W:
            TAIL_PCT = 90

        out = stats.result_line(True, 3, 0, run.end_to_end(W, ph, 2.0, 1.0))
        want = {m["name"]: m["unit"] for m in BENCHMARK["end_to_end"]}
        stats.check_result_shape(out, want)
        for name, unit in want.items():
            self.assertEqual(out["metrics"][name]["unit"], unit)
        self.assertEqual(out["metrics"]["setup_s"]["value"], 2.0)
        self.assertAlmostEqual(out["metrics"]["op_p50_s"]["value"], 0.2)
        self.assertAlmostEqual(out["metrics"]["op_tail_s"]["value"], 0.28)

    def test_traced_names_match_benchmark_json(self):
        """Fold a synthetic event log, spans and /proc samples; every
        per-layer metric comes out once, with its declared unit."""
        import run
        import traced

        with tempfile.TemporaryDirectory() as tmp:
            events = os.path.join(tmp, "work", "events")
            os.makedirs(events)
            task = {
                "Executor Run Time": 500, "Executor CPU Time": 4e8,
                "JVM GC Time": 20, "Input Metrics": {"Bytes Read": 2**20},
                "Shuffle Read Metrics": {"Remote Bytes Read": 0,
                                         "Local Bytes Read": 2**19,
                                         "Fetch Wait Time": 5},
                "Shuffle Write Metrics": {"Shuffle Bytes Written": 2**18},
            }
            log = [
                {"Event": "SparkListenerJobStart", "Job ID": 0,
                 "Submission Time": 1000_500, "Stage IDs": [0, 1],
                 "Properties": {"spark.jobGroup.id": "op0"}},
                {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": task},
                {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Metrics": task},
                {"Event": "SparkListenerJobEnd", "Job ID": 0,
                 "Completion Time": 1001_000},
            ]
            with open(os.path.join(events, "local-1"), "w") as fh:
                fh.write("\n".join(json.dumps(e) for e in log))

            tr = tracing.Tracer()
            tr.op = 0
            m = tr.begin("accountant.measure")
            p = tr.begin("privacy_function")
            tr.end(p)
            tr.end(m)
            records = [{"id": 0, "name": "minhash", "t0": 1000.0, "t1": 1002.0,
                        "driver_py_cpu_s": 0.1, "jvm_cpu_s": 0.5, "pyworker_cpu_s": 0.2}]

            class PerOp:
                pass

            per_op = PerOp()
            per_op.records = records
            b = run.Phase()
            b.latencies, b.names, b.rows, b.wall = [2.0], ["minhash"], [7], 2.0
            state = {
                "untraced_wall": 1.6, "b": b, "tracer": tr, "per_op": per_op,
                "lane": {f"samplers.{m}.draws_per_s_{mu}": 1.0
                         for m in ("laplace", "gaussian", "geometric",
                                   "discrete_gaussian")
                         for mu in ("mu0", "mu_typ")},
                "precision": 0.5, "app_id": "local-1", "events": events,
                "workload": "corpus_dedup", "seed": 1,
            }
            metrics = traced.finish(state)
            self.assertTrue(os.path.exists(
                os.path.join(tmp, "traces", "corpus_dedup-seed1.json")))

        want = {m["name"]: m["unit"] for m in BENCHMARK["per_layer"]}
        stats.check_result_shape(stats.result_line(True, 1, 0, metrics), want)
        for name, unit in want.items():
            self.assertEqual(metrics[name]["unit"], unit, name)
        v = {k: m["value"] for k, m in metrics.items()}
        self.assertEqual(v["spark.jobs"], 1)
        self.assertEqual(v["spark.stages"], 2)
        self.assertEqual(v["spark.tasks"], 2)
        self.assertAlmostEqual(v["spark.job_wall_s"], 0.5)
        self.assertAlmostEqual(v["spark.driver_gap_s"], 1.5)
        self.assertAlmostEqual(v["spark.executor_cpu_s"], 0.8)
        self.assertAlmostEqual(v["spark.shuffle_read_mb"], 1.0)
        self.assertAlmostEqual(v["trace.overhead_frac"], 0.25)
        self.assertEqual(v["extensions.candidate_pairs"], 7)
        self.assertEqual(v["extensions.minhash_s"], 2.0)


class CheckTest(unittest.TestCase):
    def test_tail_bounds_hold_empirically_far_below_alarm(self):
        rng = np.random.default_rng(1)
        self.assertLess(np.abs(rng.laplace(0, 3, 10**6)).max(), workloads.laplace_tail(3))
        self.assertLess(np.abs(rng.normal(0, 5, 10**6)).max(),
                        workloads.gaussian_tail(25))
        self.assertAlmostEqual(workloads.laplace_tail(1), math.log(1e15), places=5)

    def test_dense_check_finds_missing_and_wrong_cells(self):
        import pyarrow as pa

        exact = np.array([5.0, 0.0, 7.0])
        ok = pa.table({"k": [2, 0, 1], "v": [7.5, 4.0, 1.0]})
        self.assertIsNone(workloads.check_dense_grouped(ok, "k", "v", exact, 2))
        self.assertIsNotNone(workloads.check_dense_grouped(ok, "k", "v", exact, 0.9))
        short = pa.table({"k": [0, 1], "v": [5.0, 0.0]})
        self.assertIsNotNone(workloads.check_dense_grouped(short, "k", "v", exact, 2))

    def test_wide_release_noise_parameters(self):
        """The library's rules: alpha and the Laplace scale are
        sensitivity / epsilon, sigma^2 is sensitivity^2 / (2 rho)."""
        scales = {(s.key, s.col, s.mech): s.scale for s in workloads.WideRelease.SPECS}
        self.assertEqual(scales["l_partkey", None, "geometric"], 2)
        self.assertEqual(scales["l_partkey", "l_linenumber", "geometric"], 14)
        self.assertEqual(scales["l_orderkey", None, "discrete_gaussian"], 4)
        self.assertEqual(scales["l_partkey", "l_quantity", "gaussian"], 10000)
        self.assertEqual(scales["l_orderkey", "l_quantity", "laplace"], 100)

    def test_lane_inputs_are_the_first_spec_per_mechanism(self):
        wr = workloads.WideRelease(0, None, 1)
        wr.exact = {(s.key, s.col, s.part): np.zeros(1) for s in wr.SPECS}
        lane = wr.lane_inputs()
        self.assertEqual(set(lane), {"laplace", "gaussian", "geometric",
                                     "discrete_gaussian"})
        self.assertEqual(lane["geometric"][0].col, None)
        self.assertEqual(lane["discrete_gaussian"][0].key, "l_orderkey")


class RunOpTest(unittest.TestCase):
    """The traced run closes each op's window (job group, /proc sample)
    before the benchmark checks the release, so a check's Spark job,
    such as the second collection of a frozen release, is not
    attributed to the op."""

    def test_window_closes_before_check_and_recollection(self):
        import run

        events = []

        class Frozen:
            def toArrow(self):
                events.append("recollect")
                return value

        import pyarrow as pa

        value = pa.table({"k": [0, 1], "v": [1.0, 2.0]})

        def release(hooks):
            events.append("release")
            return workloads.Release(Frozen(), value, 2, 1)

        def check(rel):
            events.append("check")
            return None

        op = workloads.Op("x", release, check, after=lambda: events.append("after"))
        counts = run.Counts()
        out = run.run_op(op, workloads.Hooks(), counts, recollect=True,
                         released=lambda: events.append("window closed"))
        self.assertIsNotNone(out)
        self.assertEqual(events, ["release", "window closed", "check", "recollect",
                                  "after"])
        self.assertEqual((counts.attempted, counts.failed), (1, 0))

    def test_window_closes_when_the_release_raises(self):
        import run

        events = []

        def release(hooks):
            raise RuntimeError("boom")

        op = workloads.Op("x", release, lambda rel: None)
        counts = run.Counts()
        self.assertIsNone(run.run_op(op, workloads.Hooks(), counts,
                                     released=lambda: events.append("closed")))
        self.assertEqual(events, ["closed"])
        self.assertEqual((counts.attempted, counts.failed), (1, 1))


if __name__ == "__main__":
    unittest.main()
