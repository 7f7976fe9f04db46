#!/usr/bin/env python3
"""Self-tests for tools/local_verify.py on tiny inline parquet fixtures.

Run: python3 tools/test_local_verify.py  (no JVM, no Spark)
"""
import json
import os
import subprocess
import sys
import tempfile
import unittest

import pandas as pd

TOOL = os.path.join(os.path.dirname(os.path.abspath(__file__)), "local_verify.py")

NATION = pd.DataFrame({"n_nationkey": [0, 1, 2], "n_name": ["A", "B", "C"]})

# name -> (oracle SQL, Spark output frame or None for "no output dir")
QUERIES = {
    "q_pass": ("SELECT n_nationkey AS k, n_name AS name FROM nation ORDER BY k",
               pd.DataFrame({"name": ["A", "B", "C"], "k": [0, 1, 2]})),
    "q_hash": ("SELECT n_nationkey AS k FROM nation ORDER BY k",
               pd.DataFrame({"k": [0, 1, 5]})),
    "q_rows": ("SELECT n_nationkey AS k FROM nation",
               pd.DataFrame({"k": [0, 1]})),
    "q_cols": ("SELECT n_nationkey AS k FROM nation",
               pd.DataFrame({"key": [0, 1, 2]})),
    "q_oracle_err": ("SELECT error('oracle boom') AS k", pd.DataFrame({"k": [1]})),
    "q_missing": ("SELECT 1 AS k", None),
}

FULL_OUTPUT = """FAIL q_cols: columns spark=['key'] duck=['k']
FAIL q_hash: hash mismatch (3 rows)
    col k row 2: spark=5 duck=2 (1 diffs)
FAIL q_missing: no spark output dir
FAIL q_oracle_err: oracle error: Invalid Input Error: oracle boom
PASS q_pass (3 rows)
FAIL q_rows: rows spark=2 duck=3
"""


class LocalVerifyTest(unittest.TestCase):

    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.sf = os.path.join(self.tmp.name, "sf")
        self.out = os.path.join(self.tmp.name, "out")
        os.makedirs(self.sf)
        os.makedirs(self.out)
        NATION.to_parquet(os.path.join(self.sf, "nation.parquet"), index=False)
        for name, (_, df) in QUERIES.items():
            if df is not None:
                os.makedirs(os.path.join(self.out, name))
                df.to_parquet(os.path.join(self.out, name, "part-0.parquet"), index=False)
        with open(os.path.join(self.out, "oracle_sql.json"), "w") as f:
            json.dump({n: sql for n, (sql, _) in QUERIES.items()}, f)

    def tearDown(self):
        self.tmp.cleanup()

    def run_tool(self, *flags):
        return subprocess.run([sys.executable, TOOL, self.sf, self.out, *flags],
                              capture_output=True, text=True)

    def test_full_sweep_output_and_exit_code(self):
        r = self.run_tool()
        self.assertEqual(r.returncode, 1)
        self.assertEqual(r.stdout, FULL_OUTPUT)

    def test_only_compares_just_the_listed_names(self):
        r = self.run_tool("--only", "q_pass")
        self.assertEqual(r.returncode, 0, r.stdout + r.stderr)
        self.assertEqual(r.stdout, "PASS q_pass (3 rows)\n")

    def test_only_fails_a_listed_name_without_output(self):
        r = self.run_tool("--only", "q_pass,q_missing,q_unknown")
        self.assertEqual(r.returncode, 1)
        self.assertEqual(r.stdout, "FAIL q_missing: no spark output dir\n"
                                   "PASS q_pass (3 rows)\n"
                                   "FAIL q_unknown: no oracle sql\n")

    def test_json_writes_the_correctness_schema(self):
        path = os.path.join(self.tmp.name, "correctness.json")
        r = self.run_tool("--json", path)
        self.assertEqual(r.returncode, 1)
        with open(path) as f:
            doc = json.load(f)
        self.assertEqual(set(doc), {"sf", "passed", "failed", "oracle_not_run", "note", "queries"})
        self.assertEqual(doc["sf"], self.sf)
        self.assertEqual(doc["passed"], 1)
        self.assertEqual(doc["failed"], 4)
        self.assertEqual(doc["oracle_not_run"], ["q_oracle_err"])
        self.assertEqual(sorted(doc["queries"]), sorted(QUERIES))
        for rec in doc["queries"].values():
            self.assertEqual(set(rec), {"rows_match", "schema_match", "hash_match", "rows", "err"})
        q = doc["queries"]
        self.assertEqual(q["q_pass"], {"rows_match": True, "schema_match": True,
                                       "hash_match": True, "rows": 3, "err": None})
        self.assertEqual(q["q_hash"]["hash_match"], False)
        self.assertEqual((q["q_rows"]["rows_match"], q["q_rows"]["rows"]), (False, 2))
        self.assertEqual(q["q_cols"]["schema_match"], False)
        self.assertEqual(q["q_missing"]["err"], "no spark output dir")
        self.assertEqual(q["q_oracle_err"]["err"],
                         "DuckDB oracle error: Invalid Input Error: oracle boom")
        self.assertEqual(q["q_oracle_err"]["rows"], 1)

    def test_json_does_not_change_the_printed_output(self):
        plain = self.run_tool()
        with_json = self.run_tool("--json", os.path.join(self.tmp.name, "c.json"))
        self.assertEqual(plain.stdout, with_json.stdout)
        self.assertEqual(plain.returncode, with_json.returncode)

    def other_tree(self, frames):
        """A second out dir holding `frames` (name -> Spark output frame)."""
        other = os.path.join(self.tmp.name, "other")
        for name, df in frames.items():
            os.makedirs(os.path.join(other, name))
            df.to_parquet(os.path.join(other, name, "part-0.parquet"), index=False)
        with open(os.path.join(other, "oracle_sql.json"), "w") as f:
            json.dump({n: "SELECT 1" for n in frames}, f)
        return other

    def test_against_reports_same_changed_and_missing(self):
        other = self.other_tree({
            # same values, columns in another order: canonical hash matches
            "q_pass": pd.DataFrame({"k": [0, 1, 2], "name": ["A", "B", "C"]}),
            "q_hash": pd.DataFrame({"k": [0, 1, 2]}),
            "q_rows": pd.DataFrame({"k": [0, 1]}),
            "q_missing": pd.DataFrame({"k": [1]}),
        })
        r = self.run_tool("--against", other)
        self.assertEqual(r.returncode, 1)
        lines = r.stdout.splitlines()
        self.assertIn("SAME q_pass (3 rows)", lines)
        self.assertIn("SAME q_rows (2 rows)", lines)
        self.assertIn("CHANGED q_hash: 3 rows vs 3 rows, hash differs", lines)
        self.assertIn(f"MISSING q_missing: no output dir {self.out}/q_missing", lines)
        # named only in this tree: missing from the other
        self.assertIn(f"MISSING q_cols: no output dir {other}/q_cols", lines)
        self.assertEqual(len(lines), len(QUERIES))

    def test_against_combines_with_only(self):
        other = self.other_tree({"q_pass": QUERIES["q_pass"][1],
                                 "q_hash": pd.DataFrame({"k": [0, 1, 2]})})
        r = self.run_tool("--against", other, "--only", "q_pass")
        self.assertEqual(r.returncode, 0, r.stdout + r.stderr)
        self.assertEqual(r.stdout, "SAME q_pass (3 rows)\n")
        r = self.run_tool("--against", other, "--only", "q_pass,q_hash")
        self.assertEqual(r.returncode, 1)
        self.assertEqual(r.stdout, "CHANGED q_hash: 3 rows vs 3 rows, hash differs\n"
                                   "SAME q_pass (3 rows)\n")

    def test_against_detects_a_changed_column_set(self):
        other = self.other_tree({"q_pass": pd.DataFrame({"k": [0, 1, 2]})})
        r = self.run_tool("--against", other, "--only", "q_pass")
        self.assertEqual(r.returncode, 1)
        self.assertEqual(r.stdout,
                         "CHANGED q_pass: columns ['k', 'name'] vs ['k']\n")


if __name__ == "__main__":
    unittest.main()
