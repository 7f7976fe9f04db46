"""Self-tests of the benchmark harness (no JVM needed):

    python3 perfbench/test_perfbench.py
"""
import hashlib
import json
import math
import os
import sys
import tempfile
import unittest
from pathlib import Path

import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import gen  # noqa: E402
import run  # noqa: E402


def digest(d):
    h = hashlib.sha256()
    for root, _, files in sorted(os.walk(d)):
        for f in sorted(files):
            p = os.path.join(root, f)
            h.update(os.path.relpath(p, d).encode() + b"\0")
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        for w in run.WORKLOADS:
            with tempfile.TemporaryDirectory() as t:
                a, b, c = (os.path.join(t, x) for x in "abc")
                pa = gen.generate(w, 7, a)
                pb = gen.generate(w, 7, b)
                gen.generate(w, 8, c)
                self.assertEqual(digest(a), digest(b), w)
                self.assertNotEqual(digest(a), digest(c), w)
                self.assertEqual(pa, pb, w)

    def test_stream_chunks_partition_the_events(self):
        with tempfile.TemporaryDirectory() as t:
            props = gen.generate("stream_cascade", 3, t)
            self.assertEqual(props["chunks"]["count"], gen.STREAM_CHUNKS)
            with open(os.path.join(t, "chunks", "chunk_00001.csv")) as f:
                lines = f.read().splitlines()
            self.assertEqual(len(lines), gen.CHUNK_EVENTS)
            first = int(lines[0].split(",")[0])
            self.assertEqual(first // 540, gen.CHUNK_EVENTS)
            os.mkdir(os.path.join(t, "o"))
            gen.landed_events(t, 2, os.path.join(t, "o"))
            self.assertEqual(gen.properties(os.path.join(t, "o"))["events"]["rows"],
                             2 * gen.CHUNK_EVENTS)


    def test_events_keep_the_sf01_shape(self):
        ev = gen.events(4, 20_000).to_pandas()
        self.assertTrue(ev.ts.is_monotonic_increasing)
        self.assertEqual(ev.user_id.nunique(), gen.USERS)
        self.assertEqual(ev.event_type.nunique(), len(gen.EVENT_TYPES))
        self.assertAlmostEqual(ev.value.mean() / gen.VALUE_MEAN, 1.0, delta=0.05)


class TailTest(unittest.TestCase):
    def test_ten_samples_beyond(self):
        value, pct, beyond, n = run.tail(range(1, 101))
        self.assertEqual((value, pct, beyond, n), (90, 90.0, 10, 100))
        value, pct, beyond, n = run.tail([5.0] * 5 + [1.0] * 6)
        self.assertEqual((value, beyond, n), (1.0, 10, 11))
        self.assertAlmostEqual(pct, 100 / 11)

    def test_too_few_samples(self):
        with self.assertRaises(ValueError):
            run.tail(range(10))


def result(latencies, names=None, stream=False):
    names = names or [f"q{i % 3}" for i in range(len(latencies))]
    r = {"ops": [{"name": n, "latency_s": x, "error": None if x is not None else "boom",
                  "layers": {"sinks.lake_read_ms": 10.0}}
                 for n, x in zip(names, latencies)],
         "setup_s": 9.0, "timed_wall_s": 6.0, "retained_heap_mb": 100.0}
    if stream:
        r["landed_chunks"] = len(latencies) + 1
    return r


class FailureCountTest(unittest.TestCase):
    def test_thrown_op_counts_as_failed_and_misses_latency(self):
        lat = [0.5] * 11 + [None]
        e2e, info, attempted, failed = run.summarize(result(lat), [], 4)
        self.assertEqual((attempted, failed), (12, 1))
        self.assertAlmostEqual(info["error_rate"][0], 1 / 12)
        self.assertAlmostEqual(e2e["throughput_ops_per_s"][0], 11 / 6.0)
        # the failed op sits above every latency: 12 samples, tail rank 2
        self.assertEqual(info["latency_tail_s"][0], 0.5)
        self.assertEqual(info["latency_tail_beyond"][0], 10)
        self.assertEqual(e2e["setup_s"][0], 9.0)
        e2e, info, attempted, failed = run.summarize(result([0.5] * 5 + [None] * 7), [], 4)
        self.assertTrue(math.isinf(e2e["latency_p50_s"][0]))
        # six samples support no tail
        _, info, _, _ = run.summarize(result([0.5] * 6), [], 4)
        self.assertNotIn("latency_tail_s", info)

    def test_oracle_mismatch_fails_that_query_ops(self):
        lat = [0.5] * 12
        _, info, attempted, failed = run.summarize(result(lat), ["q1"], 4)
        self.assertEqual((attempted, failed), (12, 4))
        _, _, _, failed = run.summarize(result(lat, ["c"] * 12, stream=True), ["lake"], 4)
        self.assertEqual(failed, 12)


class LayerTest(unittest.TestCase):
    def test_shares_and_gap_check(self):
        rows = [{"op_ms": 100.0, "self_ms": 0.1, "work_wall_ms": 60.0, "work_task_ms": 120.0,
                 "cores": 4.0, "spark.task_ms": 120.0, "spark.jobs": 2.0,
                 "phase.build_ms": 30.0, "phase.plan_ms": 10.0, "phase.exec_ms": 60.0}] * 3
        r = {"op_layers": rows, "session_ms": 2.0, "warm_ms": 6.0}
        m = run.layer_metrics(r)
        self.assertEqual(set(m), set(run.LAYER_UNITS))
        self.assertAlmostEqual(m["split.exec_share"][0], 0.6)
        self.assertAlmostEqual(m["spark.task_busy_share"][0], 0.5)
        self.assertAlmostEqual(m["split.idle_core_share"][0], 0.7)
        self.assertEqual(m["spark.exec_ms"][0], 60.0)
        self.assertEqual(m["core.warm_ms"][0], 6.0)
        self.assertTrue(run.split_adds_up(r))
        r["op_layers"] = [dict(rows[0], self_ms=5.0)]
        self.assertFalse(run.split_adds_up(r))


class OracleCompareTest(unittest.TestCase):
    def test_equal_output_passes_changed_output_fails(self):
        with tempfile.TemporaryDirectory() as t:
            t = Path(t)
            pq.write_table(gen.events(5, 50), t / "events.parquet")
            check = t / "check"
            (check / "ids").mkdir(parents=True)
            (check / "broken").mkdir()
            (check / "oracle_sql.json").write_text(json.dumps(
                {"ids": "SELECT event_id, user_id FROM events ORDER BY event_id",
                 "broken": "SELECT no_such_column FROM events"}))
            ids = pq.read_table(t / "events.parquet").select(["user_id", "event_id"])
            pq.write_table(ids, check / "ids" / "part-0.parquet")
            pq.write_table(ids, check / "broken" / "part-0.parquet")
            self.assertEqual(run.oracle_failures(t, check), ["broken"])
            pq.write_table(ids.slice(1), check / "ids" / "part-0.parquet")
            self.assertEqual(run.oracle_failures(t, check), ["broken", "ids"])


class BenchmarkJsonTest(unittest.TestCase):
    def test_metric_and_workload_names_match_the_harness(self):
        b = json.loads((Path(run.ROOT) / "BENCHMARK.json").read_text())
        self.assertEqual([w["name"] for w in b["workloads"]], run.WORKLOADS)
        e2e, _, _, _ = run.summarize(result([0.5] * 11), [], 4)
        self.assertEqual({m["name"]: m["unit"] for m in b["end_to_end"]},
                         {k: u for k, (_, u) in e2e.items()})
        self.assertEqual({m["name"]: m["unit"] for m in b["per_layer"]}, run.LAYER_UNITS)


if __name__ == "__main__":
    unittest.main()
