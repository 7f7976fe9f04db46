#!/usr/bin/env python3
"""Self-tests for tools/bench_compare.py on two small Bench artifacts.

Run: python3 tools/test_bench_compare.py  (no JVM, no Spark)
"""
import json
import os
import subprocess
import sys
import tempfile
import unittest

TOOL = os.path.join(os.path.dirname(os.path.abspath(__file__)), "bench_compare.py")

# an older artifact: pre-r21 field name, no cohort list, two ids that the
# newer artifact no longer has (one of them a retired twin)
OLD = {"repeat": 3, "subsecond_runs": 7,
       "median": {"q_a": 1.0, "q_b": 2.0, "q_c": 4.0,
                  "stream_x": 3.0, "stream_x_v2": 5.0, "q_gone": 0.5,
                  "q_flaky": 2.0}}
# a newer artifact: cohort listed, one added id, two failed ids (one of
# them present in the older artifact too)
NEW = {"repeat": 3, "subsecond_extra_runs": 4, "subsecond_cohort": ["q_a", "q_new"],
       "median": {"q_a": 1.0, "q_b": 4.0, "q_c": 1.0,
                  "stream_x": 3.0, "q_new": 0.8, "q_fail": -1.0,
                  "q_flaky": -1.0}}


def run(new, old):
    with tempfile.TemporaryDirectory() as d:
        paths = []
        for name, art in (("new.json", new), ("old.json", old)):
            p = os.path.join(d, name)
            with open(p, "w") as f:
                json.dump(art, f)
            paths.append(p)
        r = subprocess.run([sys.executable, TOOL] + paths,
                           capture_output=True, text=True)
    return r


def section(out, title):
    """The indented lines under `title (n):` in the tool's stdout."""
    lines = out.splitlines()
    start = next(i for i, l in enumerate(lines) if l.startswith(title + " ("))
    body = []
    for l in lines[start + 1:]:
        if not l.startswith("  "):
            break
        body.append(l.strip())
    return body


class BenchCompareTest(unittest.TestCase):

    def test_shared_ratio_and_outliers(self):
        r = run(NEW, OLD)
        self.assertEqual(r.returncode, 0, r.stderr)
        self.assertIn("shared queries: 4", r.stdout)
        # ratios 1.0, 2.0, 0.25, 1.0 -> median 1.0
        self.assertIn("median per-query ratio: 1.00x", r.stdout)
        self.assertEqual(section(r.stdout, "> 1.5x"), ["q_b: 2.00 -> 4.00 s (2.00x)"])
        self.assertEqual(section(r.stdout, "< 0.67x"), ["q_c: 4.00 -> 1.00 s (0.25x)"])

    def test_one_sided_ids_are_listed(self):
        r = run(NEW, OLD)
        self.assertEqual(section(r.stdout, "old-only"),
                         ["q_gone: 0.50 s", "stream_x_v2: 5.00 s"])
        # a failed query is never reported as retired (q_flaky), and an
        # added one that failed says so
        self.assertEqual(section(r.stdout, "new-only"),
                         ["q_fail: failed", "q_new: 0.80 s"])

    def test_cohort_size_only_when_known(self):
        r = run(NEW, OLD)
        notes = [l for l in r.stderr.splitlines() if l.startswith("note:")]
        self.assertEqual(len(notes), 2, r.stderr)
        new_note = next(l for l in notes if "new.json" in l)
        old_note = next(l for l in notes if "old.json" in l)
        self.assertIn("its 2 sub-second cohort queries (4 extra runs)", new_note)
        self.assertIn("its sub-second cohort queries (7 extra runs)", old_note)

    def test_no_note_without_extra_runs(self):
        quiet = dict(NEW, subsecond_extra_runs=0)
        r = run(quiet, quiet)
        self.assertEqual(r.returncode, 0, r.stderr)
        self.assertNotIn("note:", r.stderr)
        self.assertNotIn("-only", r.stdout)

    def test_nothing_shared_fails(self):
        r = run({"median": {"a": 1.0}}, {"median": {"b": 1.0}})
        self.assertNotEqual(r.returncode, 0)
        self.assertIn("no shared queries", r.stderr)


if __name__ == "__main__":
    unittest.main()
