#!/usr/bin/env python3
"""Self-tests for tools/perfbench_ab.py with a fake runner.

Run: python3 tools/test_perfbench_ab.py  (no JVM, no Spark, no build)
"""
import contextlib
import io
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import perfbench_ab  # noqa: E402

SPEC = {"end_to_end": [
    {"name": "throughput_ops_per_s", "unit": "ops/s", "better": "higher", "bound": 0.25},
    {"name": "latency_p50_s", "unit": "s", "better": "lower", "bound": 0.25}],
    "per_layer": [
    {"name": "operators.build_ms", "unit": "ms", "better": "lower"},
    {"name": "spark.exec_ms", "unit": "ms", "better": "lower"},
    {"name": "spark.jobs", "unit": "count", "better": "lower"},
    {"name": "spark.stages", "unit": "count", "better": "lower"}]}


def result(tput, p50):
    return {"correct": True, "attempted": 6, "failed": 0,
            "metrics": {"throughput_ops_per_s": {"value": tput, "unit": "ops/s"},
                        "latency_p50_s": {"value": p50, "unit": "s"}}}


class FakeRunner:
    """Parent at 0.50 ops/s + seed jitter, change at 0.75; records calls."""

    def __init__(self, fail=None):
        self.calls, self.fail = [], fail

    def __call__(self, checkout, workload, seed):
        side = os.path.basename(checkout)
        self.calls.append((side, workload, seed))
        if (side, seed) == self.fail:
            return False, None, "boom"
        jitter = (seed % 3) * 0.01
        if side == "parent":
            return True, result(0.50 + jitter, 2.0 - jitter), ""
        return True, result(0.75 + jitter, 1.3 - jitter), ""


class PerfbenchAbTest(unittest.TestCase):

    def run_tool(self, runner, seeds="101-110", extra=(), spec=SPEC):
        with tempfile.TemporaryDirectory() as d:
            for side in ("parent", "change"):
                os.mkdir(os.path.join(d, side))
                with open(os.path.join(d, side, "BENCHMARK.json"), "w") as f:
                    json.dump(spec, f)
            out_json = os.path.join(d, "ab.json")
            out, err = io.StringIO(), io.StringIO()
            with contextlib.redirect_stdout(out), contextlib.redirect_stderr(err):
                rc = perfbench_ab.main(
                    ["--parent", os.path.join(d, "parent"), "--change", os.path.join(d, "change"),
                     "--workload", "stream_cascade", "--seeds", seeds, "--json", out_json,
                     *extra],
                    runner=runner, loadavg=lambda: ["1.00", "2.00", "3.00"])
            with open(out_json) as f:
                art = json.load(f)
        return rc, out.getvalue(), err.getvalue(), art

    def test_seed_ranges(self):
        self.assertEqual(perfbench_ab.parse_seeds("101-103"), [101, 102, 103])
        self.assertEqual(perfbench_ab.parse_seeds("7,9-10"), [7, 9, 10])

    def test_order_alternates_by_seed_parity(self):
        runner = FakeRunner()
        self.run_tool(runner, seeds="101-104")
        self.assertEqual([c[0] for c in runner.calls],
                         ["parent", "change", "change", "parent",
                          "parent", "change", "change", "parent"])
        self.assertTrue(all(c[1] == "stream_cascade" for c in runner.calls))

    def test_summary_wins_ratio_and_gain(self):
        rc, out, _, art = self.run_tool(FakeRunner())
        self.assertEqual(rc, 0)
        t = art["summary"]["throughput_ops_per_s"]
        self.assertEqual((t["wins"], t["losses"], t["pairs"]), (10, 0, 10))
        self.assertAlmostEqual(t["parent"]["median"], 0.51)
        self.assertAlmostEqual(t["change"]["median"], 0.76)
        self.assertAlmostEqual(t["ratio"], 0.76 / 0.51)
        # jitters 0 x3, 0.01 x3, 0.02 x4: Q1 0.5025, Q3 0.52 by interpolation
        self.assertAlmostEqual(t["parent_spread"], 0.0175)
        self.assertTrue(t["gain"])
        # lower-is-better metrics win when the change reads lower
        p = art["summary"]["latency_p50_s"]
        self.assertEqual(p["wins"], 10)
        self.assertTrue(p["gain"])
        self.assertIn("GAIN", out)
        # every run is kept with its loadavg and position
        self.assertEqual(len(art["runs"]), 20)
        self.assertTrue(all(r["loadavg"] == ["1.00", "2.00", "3.00"] for r in art["runs"]))

    def test_no_gain_inside_the_parent_spread(self):
        def runner(checkout, workload, seed):
            side = os.path.basename(checkout)
            # parent alternates 0.4/0.6 (spread 0.2); change always 0.55
            v = (0.4 if seed % 2 else 0.6) if side == "parent" else 0.55
            return True, result(v, 1.0), ""
        rc, _, _, art = self.run_tool(runner, seeds="1-10")
        t = art["summary"]["throughput_ops_per_s"]
        self.assertEqual((t["wins"], t["losses"]), (5, 5))
        self.assertFalse(t["gain"])
        # equal values are ties: neither a win nor a loss
        self.assertEqual((art["summary"]["latency_p50_s"]["wins"],
                          art["summary"]["latency_p50_s"]["losses"]), (0, 0))
        self.assertEqual(rc, 0)

    def test_failed_run_exits_nonzero_and_drops_its_pair(self):
        rc, out, err, art = self.run_tool(FakeRunner(fail=("change", 104)))
        self.assertEqual(rc, 1)
        self.assertEqual(art["failed_runs"], 1)
        self.assertEqual(art["summary"]["throughput_ops_per_s"]["pairs"], 9)
        self.assertIn("1 run(s) failed", out)
        self.assertIn("seed 104 change: run failed", err)


    def test_trace_compares_the_per_layer_medians(self):
        calls = []

        def runner(checkout, workload, seed, trace=False):
            side = os.path.basename(checkout)
            calls.append(trace)
            jobs, build = (5.1, 110.0) if side == "parent" else (4.0, 20.0 + seed % 3)
            metrics = {"spark.jobs": jobs, "operators.build_ms": build,
                       "spark.exec_ms": 300.0, "spark.stages": 5.0}
            return True, {"correct": True, "attempted": 22, "failed": 0, "metrics": {
                k: {"value": v, "unit": "x"} for k, v in metrics.items()}}, ""
        rc, out, _, art = self.run_tool(runner, seeds="1-4", extra=["--trace"])
        self.assertEqual(rc, 0)
        self.assertTrue(all(calls) and len(calls) == 8)
        self.assertIn("--trace 1", art["command"])
        # only the named per-layer metrics, in BENCHMARK.json's order
        self.assertEqual(list(art["summary"]),
                         ["operators.build_ms", "spark.exec_ms", "spark.jobs"])
        jobs = art["summary"]["spark.jobs"]
        self.assertEqual((jobs["parent"]["median"], jobs["change"]["median"]), (5.1, 4.0))
        self.assertEqual(jobs["wins"], 4)
        self.assertTrue(art["summary"]["operators.build_ms"]["gain"])
        # equal exec times are ties, not a gain
        self.assertEqual(art["summary"]["spark.exec_ms"]["wins"], 0)
        self.assertFalse(art["summary"]["spark.exec_ms"]["gain"])
        self.assertIn("spark.jobs", out)

    def test_trace_compares_the_stream_commit_layers(self):
        stream = ["streaming.add_batch_ms", "streaming.state_commit_ms",
                  "streaming.wal_commit_ms", "streaming.commit_offsets_ms"]
        spec = dict(SPEC, per_layer=SPEC["per_layer"] + [
            {"name": n, "unit": "ms", "better": "lower"}
            for n in stream + ["streaming.planning_ms"]])

        def runner(checkout, workload, seed, trace=False):
            side = os.path.basename(checkout)
            parent = {"streaming.add_batch_ms": 2520.0, "streaming.state_commit_ms": 418.5,
                      "streaming.wal_commit_ms": 30.5, "streaming.commit_offsets_ms": 28.5}
            change = {"streaming.add_batch_ms": 1498.0, "streaming.state_commit_ms": 22.5,
                      "streaming.wal_commit_ms": 3.0, "streaming.commit_offsets_ms": 2.0}
            metrics = dict(parent if side == "parent" else change,
                           **{"spark.jobs": 9.0, "operators.build_ms": 5.0,
                              "spark.exec_ms": 300.0, "streaming.planning_ms": 50.0})
            return True, {"correct": True, "attempted": 6, "failed": 0, "metrics": {
                k: {"value": v + seed % 2, "unit": "ms"} for k, v in metrics.items()}}, ""
        rc, out, _, art = self.run_tool(runner, seeds="1-4", extra=["--trace"], spec=spec)
        self.assertEqual(rc, 0)
        # the four stream layers are summarized; a per-layer metric not in
        # TRACE_METRICS is not
        self.assertTrue(set(stream) <= set(art["summary"]))
        self.assertNotIn("streaming.planning_ms", art["summary"])
        commit = art["summary"]["streaming.state_commit_ms"]
        self.assertEqual((commit["parent"]["median"], commit["change"]["median"]), (419.0, 23.0))
        self.assertEqual(commit["wins"], 4)
        self.assertTrue(all(art["summary"][n]["gain"] for n in stream))
        self.assertIn("streaming.commit_offsets_ms", out)

    def test_untraced_runs_pass_no_trace_flag(self):
        runner = FakeRunner()  # takes no trace argument
        rc, _, _, art = self.run_tool(runner, seeds="1-2")
        self.assertEqual(rc, 0)
        self.assertIn("--trace 0", art["command"])
        self.assertEqual(list(art["summary"]), ["throughput_ops_per_s", "latency_p50_s"])


if __name__ == "__main__":
    unittest.main()
